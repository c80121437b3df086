"""Round-9 tests: ADVICE-r8 fixes (string-keyed graph seeds, LPA node
universe, hits empty-graph guard, target_encode decimal headroom,
RandomizedParamSearch content-addressed rung sampling) + round-9 ops."""

import pytest

from pyspark.sql import functions as F


# ------------------------------------------- ADVICE: string-keyed BFS


def test_bfs_distances_string_keys(spark):
    from skrub_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [("a.com", "b.com"), ("b.com", "c.com"), ("c.com", "d.com")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a.com",)], "node string")
    out = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds, max_hops=2).collect()
    }
    # Pre-fix: cast('long') NULLed the string seeds -> empty result.
    assert out == {"a.com": 0, "b.com": 1, "c.com": 2}


def test_weighted_distances_string_keys(spark):
    from skrub_spark.operators.graph import weighted_distances

    edges = spark.createDataFrame(
        [("a.com", "b.com", 3), ("b.com", "c.com", 4), ("a.com", "c.com", 9)],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("a.com",)], "node string")
    out = {
        r["node"]: r["dist"]
        for r in weighted_distances(edges, seeds, n_rounds=3).collect()
    }
    assert out == {"a.com": 0, "b.com": 3, "c.com": 7}


# ------------------------------------------- ADVICE: LPA node universe


def test_label_propagation_isolated_nodes(spark):
    from skrub_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (5, 5)], "src long, dst long"
    )
    nodes = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (5,)], "node long"
    )
    out = {
        r["node"]: r["label"]
        for r in label_propagation(
            edges, n_iter=2, nodes_df=nodes
        ).collect()
    }
    # 5 (self-loop-only) and 4 (isolated) keep their own ids.
    assert out[4] == 4 and out[5] == 5
    # the triangle converges to the smallest id after 2 rounds
    assert out[1] == out[2] == out[3] == 1
    # Without a nodes frame the edge-derived universe omits 4 and 5.
    bare = {
        r["node"] for r in label_propagation(edges, n_iter=1).collect()
    }
    assert bare == {1, 2, 3}


# ------------------------------------------- ADVICE: hits guards


def test_hits_empty_graph_raises(spark):
    from skrub_spark.operators.graph import hits

    empty = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="no edges"):
        hits(empty, n_iter=1)


# ------------------------------------------- ADVICE: target_encode headroom


def test_target_encode_decimal_matches_long_path(spark):
    from skrub_spark.encoders.target_encoder import target_encode

    rows = [("a", 1), ("a", 0), ("a", 1), ("b", 0), ("b", 1)]
    df = spark.createDataFrame(rows, "cat string, y int")
    out = {
        r["cat"]: r["encoding"] for r in target_encode(df, "cat", "y", m=2).collect()
    }
    n, s = 5, 3
    assert out["a"] == pytest.approx(
        round((n * 2 + 2 * s) / (n * (3 + 2)), 6)
    )
    assert out["b"] == pytest.approx(
        round((n * 1 + 2 * s) / (n * (2 + 2)), 6)
    )


def test_target_encode_survives_1e10_scale_counts(spark):
    # Simulate the 100 TB regime: per-category sums that make N*S_c
    # overflow int64 (~9.2e18). 4e9 * 4e9 = 1.6e19 must NOT wrap.
    from skrub_spark.encoders.target_encoder import _cat_stats  # noqa: F401
    from skrub_spark.encoders.target_encoder import target_encode

    big = 2_000_000_000
    df = spark.createDataFrame(
        [("a", big), ("a", big), ("b", 0)], "cat string, y long"
    )
    out = {
        r["cat"]: r["encoding"]
        for r in target_encode(df, "cat", "y", m=1).collect()
    }
    n, s, s_a = 3, 2 * big, 2 * big
    expect_a = round((n * s_a + 1 * s) / (n * (2 + 1)), 6)
    assert out["a"] == pytest.approx(expect_a, rel=1e-12)
    assert out["a"] > 0  # a silent int64 wrap would go negative


# ------------------------------- ADVICE: deterministic rung subsample


def test_randomized_search_rung_sample_partition_invariant(spark):
    from skrub_spark.plans.data_ops import (
        RandomizedParamSearch,
        choose_from,
        deferred,
        var,
    )

    df = spark.range(0, 400).withColumn(
        "y", (F.col("id") % 7).cast("double")
    )
    thresh = choose_from([1.0, 2.0, 3.0, 4.0], name="thresh")

    @deferred
    def above(d, t):
        return d.filter(F.col("y") >= t)

    plan = above(var("X"), thresh).count()

    def run(frame):
        s = RandomizedParamSearch(
            plan,
            scorer=lambda n: float(n),
            n_candidates=4,
            seed=7,
            subsample_var="X",
            subsample_key="id",
            min_fraction=0.25,
        ).fit({"X": frame})
        return s.best_params_, [
            (r["fraction"], r["score"]) for r in s.results_
        ]

    p1, scores1 = run(df.repartition(1))
    p2, scores2 = run(df.repartition(13, "y"))
    # Identical rung scores AND winner under any partitioning —
    # seeded df.sample() failed this (partition-layout-dependent).
    assert scores1 == scores2
    assert p1 == p2


# ------------------------------------------------- html_extract (r9)


def test_extract_main_content_basics():
    from skrub_spark.operators.html_extract import extract_main_content

    html = (
        "<html><head><title>My Page</title>"
        '<script>var x = "<p>fake</p>";</script>'
        "<style>.a{color:red}</style></head><body>"
        '<nav><a href="/">Home</a> <a href="/d">Docs</a></nav>'
        "<!-- comment with <p>markup</p> -->"
        "<h1>Real Heading</h1>"
        "<p>This is the first real paragraph of prose content.</p>"
        '<div><a href="/x">related one</a> <a href="/y">related two</a></div>'
        '<p>Second paragraph with an <a href="/r">inline link</a> '
        "in flowing text that stays.</p>"
        '<footer><a href="/c">Contact</a> <a href="/t">Terms</a></footer>'
        "</body></html>"
    )
    r = extract_main_content(html)
    assert r["title"] == "My Page"
    assert r["main_text"].split("\n") == [
        "Real Heading",
        "This is the first real paragraph of prose content.",
        "Second paragraph with an inline link in flowing text that stays.",
    ]
    assert r["n_blocks"] == 6 and r["n_kept"] == 3
    # script/style/comment content never leaks
    assert "fake" not in r["main_text"] and "color" not in r["main_text"]


def test_extract_main_content_edge_cases():
    from skrub_spark.operators.html_extract import extract_main_content

    # malformed markup never raises
    r = extract_main_content("<p>unclosed <div>nested <b>bold")
    assert r["main_text"] == "unclosed\nnested bold"
    # None / empty
    assert extract_main_content(None)["n_blocks"] == 0
    assert extract_main_content("")["main_text"] == ""
    # a block that is pure link text is dropped (density 1.0)
    r = extract_main_content("<p><a href='/'>all of it is a link</a></p>")
    assert r["n_blocks"] == 1 and r["n_kept"] == 0
    # exactly-half link density is kept (<= threshold)
    r = extract_main_content("<p><a href='/'>abcde</a> fghij</p>")
    assert r["n_kept"] == 1
    # entity decoding
    r = extract_main_content("<p>a &amp; b &lt;tag&gt; ok then.</p>")
    assert r["main_text"] == "a & b <tag> ok then."
    # title falls back to first h1 when <title> is absent
    r = extract_main_content("<h1>Only Heading</h1><p>body text here.</p>")
    assert r["title"] == "Only Heading"
    # nested boiler containers: everything inside header/nav dropped
    r = extract_main_content(
        "<header><div><p>logo tagline</p></div></header><p>real body.</p>"
    )
    assert r["main_text"] == "real body."


def test_html_extract_dataframe(spark):
    from skrub_spark.operators.html_extract import html_extract

    df = spark.createDataFrame(
        [
            (1, "<html><title>T1</title><p>hello world text.</p></html>"),
            (2, "<nav><a href='/'>menu</a></nav><p>second doc body.</p>"),
            (3, None),
        ],
        "id long, content string",
    )
    out = {r["id"]: r for r in html_extract(df, "content").collect()}
    assert out[1]["title"] == "T1"
    assert out[1]["main_text"] == "hello world text."
    assert out[2]["main_text"] == "second doc body."
    assert out[2]["n_blocks"] == 2 and out[2]["n_kept"] == 1
    assert out[3]["main_text"] == "" and out[3]["n_blocks"] == 0
    # input columns pass through
    assert set(out[1].asDict()) == {
        "id", "content", "title", "main_text", "n_blocks", "n_kept",
    }


# ------------------------------------------- r9: learned language ID


def test_language_id_frozen_beats_heuristic(spark, sf_dir):
    """The verdict-r8 contract: on the held-out md5 split of the
    planted corpus, the FROZEN learned model's accuracy must be >=
    the marker heuristic's (functions/text.py::language_id)."""
    from skrub_spark._frozen import LID_MODEL
    from skrub_spark.functions.text import language_id
    from skrub_spark.operators.language_id import (
        plant_lang_phrase,
        score_language,
    )
    from skrub_spark.functions.hashing import hash_bucket
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    held = plant_lang_phrase(docs).filter(
        hash_bucket(F.col("doc_id"), "lidsplit", 10_000) >= 8000
    )
    acc_learned = score_language(held, LID_MODEL).agg(
        F.avg((F.col("lang_pred") == F.col("lang")).cast("double"))
    ).first()[0]
    acc_heur = held.select(
        F.avg(
            (language_id(F.col("text")) == F.col("lang")).cast("double")
        )
    ).first()[0]
    assert acc_learned >= acc_heur
    assert acc_learned >= 0.95


def test_score_language_partitioning_invariant(spark, sf_dir):
    """Margins are DECIMAL-accumulated: re-partitioning the input
    must not change a single prediction or 6dp margin."""
    from skrub_spark._frozen import LID_MODEL
    from skrub_spark.operators.language_id import (
        plant_lang_phrase,
        score_language,
    )
    from skrub_spark.sources import load_table

    docs = plant_lang_phrase(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    cols = ["doc_id", "lang_pred", "lang_margin"]
    a = sorted(
        map(tuple, score_language(docs, LID_MODEL).select(cols).collect())
    )
    b = sorted(
        map(
            tuple,
            score_language(docs.repartition(13), LID_MODEL)
            .select(cols)
            .collect(),
        )
    )
    assert a == b


def test_score_language_zero_gram_rows(spark):
    """Docs with < n chars have no grams: they must score on biases
    alone (the frozen model's largest bias wins) and still appear."""
    from skrub_spark._frozen import LID_MODEL
    from skrub_spark.operators.language_id import score_language

    df = spark.createDataFrame(
        [(1, "ab"), (2, None)], "doc_id long, text string"
    )
    out = score_language(df, LID_MODEL).collect()
    assert len(out) == 2
    langs = LID_MODEL["langs"]
    bias_win = langs[
        max(range(len(langs)), key=lambda c: (LID_MODEL["biases"][c], -c))
    ]
    # Spark's iterative update keeps the FIRST class on exact ties.
    best = max(LID_MODEL["biases"])
    first = next(
        c for c in range(len(langs)) if LID_MODEL["biases"][c] == best
    )
    assert all(r["lang_pred"] == langs[first] for r in out)
    assert bias_win == langs[first]


def test_fit_language_id_roundtrip(spark):
    """End-to-end fit on a tiny planted frame: the model must learn
    to separate two synthetic 'languages' and score new rows."""
    from skrub_spark.operators.language_id import (
        fit_language_id,
        score_language,
    )

    rows = []
    for i in range(40):
        rows.append((i, "aa", f"alpha beta gamma doc {i} the and of"))
        rows.append((i + 100, "bb", f"uno dos tres doc {i} el la que"))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    model = fit_language_id(df, "lang", n_features=128, max_iter=50)
    assert model["langs"] == ["aa", "bb"]
    scored = score_language(df, model)
    acc = scored.agg(
        F.avg((F.col("lang_pred") == F.col("lang")).cast("double"))
    ).first()[0]
    assert acc == 1.0


# ------------------------------------------- r9: per-doc gram budget


def test_gram_cap_bounds_megadoc_rows(spark):
    """One pathological megadoc must not own a task: with the cap,
    a doc whose distinct-gram count exceeds max_grams_per_doc
    contributes exactly max_grams_per_doc gram rows downstream."""
    from skrub_spark.functions.text import distinct_shingles, word_shingles

    mega = " ".join(f"w{i}" for i in range(5000))  # 4998 3-shingles
    df = spark.createDataFrame(
        [(1, mega), (2, "a b c d")], "doc_id long, text string"
    )
    out = df.select(
        "doc_id",
        F.size(
            distinct_shingles(word_shingles(F.col("text"), 3), 100)
        ).alias("ng"),
    ).collect()
    sizes = {r["doc_id"]: r["ng"] for r in out}
    assert sizes == {1: 100, 2: 2}
    # and the kept prefix is the FIRST distinct grams in doc order
    first = df.filter("doc_id = 1").select(
        distinct_shingles(word_shingles(F.col("text"), 3), 3).alias("g")
    ).first()["g"]
    assert first == ["w0 w1 w2", "w1 w2 w3", "w2 w3 w4"]


def test_gram_cap_default_invisible_on_corpus(spark, sf_dir):
    """At the documented 50k default no benchmark document is
    anywhere near the budget, so capped == uncapped byte-identically
    (this is what keeps every dedup/contamination oracle unchanged)."""
    from skrub_spark.dedup.minhash import dedup_minhash_pairs
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    capped = sorted(
        map(tuple, dedup_minhash_pairs(docs).collect())
    )
    uncapped = sorted(
        map(
            tuple,
            dedup_minhash_pairs(docs, max_grams_per_doc=None).collect(),
        )
    )
    assert capped == uncapped


# ------------------------------------------- r9: frozen GapEncoder


def test_gap_frozen_partitioning_invariant(spark, sf_dir):
    """Activations are 6dp-requantized with DECIMAL term sums, so a
    repartition must not flip a single 6dp value."""
    from skrub_spark._frozen import GAP_MODEL
    from skrub_spark.encoders.gap_encoder import gap_topics_frozen
    from skrub_spark.sources import load_table

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    cols = ["p_partkey"] + [f"p_name_topic_{j}" for j in range(GAP_MODEL["k"])]
    a = sorted(
        map(
            tuple,
            gap_topics_frozen(part, GAP_MODEL, "p_name", "p_partkey")
            .select(cols)
            .collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            gap_topics_frozen(
                part.repartition(11), GAP_MODEL, "p_name", "p_partkey"
            )
            .select(cols)
            .collect(),
        )
    )
    assert a == b
    # topics genuinely separate: not every row has uniform activations
    spread = [len({round(v, 3) for v in r[1:]}) for r in a]
    assert max(spread) > 1


def test_gap_frozen_zero_gram_rows(spark):
    """Rows too short to shingle run the same recursion with S=0:
    the activations converge on the documented const fixed point."""
    from skrub_spark._frozen import GAP_MODEL
    from skrub_spark.encoders.gap_encoder import gap_topics_frozen

    df = spark.createDataFrame(
        [(1, "ab"), (2, None)], "p_partkey long, p_name string"
    )
    out = gap_topics_frozen(df, GAP_MODEL, "p_name", "p_partkey").collect()
    assert len(out) == 2
    k = GAP_MODEL["k"]
    # w' = round(w*0/wt1 + const, 6) after the first step, stable after
    expect = round(GAP_MODEL["const"], 6)
    for r in out:
        assert [r[f"p_name_topic_{j}"] for j in range(k)] == [expect] * k


def test_gap_frozen_model_contract():
    """Frozen literals hold the invariants the arithmetic relies on:
    positive floored topics, 6dp quantization, L1 rows ~1."""
    from skrub_spark._frozen import GAP_MODEL

    m = GAP_MODEL
    assert len(m["topics"]) == m["k"]
    for row in m["topics"]:
        assert len(row) == m["hash_dim"]
        assert all(h >= 1e-6 for h in row)
        assert all(abs(h - round(h, 6)) < 1e-12 for h in row)
        assert 0.9 < sum(row) < 1.1


# ------------------------------------- r9: auto-salted aggregation


def _aa_frame(spark, skewed):
    if skewed:
        rows = [("hot", i) for i in range(300)] + [
            (f"k{i}", i) for i in range(60)
        ]
    else:
        rows = [(f"k{i % 40}", i) for i in range(360)]
    return spark.createDataFrame(rows, "k string, v long")


def test_auto_agg_picks_salted_for_hot_key(spark):
    from skrub_spark.operators.salting import auto_agg_with_strategy

    df = _aa_frame(spark, skewed=True)
    out, strat = auto_agg_with_strategy(
        df, ["k"], {"n": F.count(F.lit(1)), "s": F.sum("v")},
        skew_share_threshold=0.2,
    )
    assert strat == "salted"
    plain = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    got = {r["k"]: (r["n"], r["s"]) for r in out.collect()}
    assert got == plain
    # the salted plan really runs the two-stage spread
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan


def test_auto_agg_plain_for_uniform_keys(spark):
    from skrub_spark.operators.salting import auto_agg_with_strategy

    df = _aa_frame(spark, skewed=False)
    out, strat = auto_agg_with_strategy(
        df, ["k"], {"n": F.count(F.lit(1))}, skew_share_threshold=0.2
    )
    assert strat == "plain"
    assert out.count() == 40
    # the plain path's second (merge) groupBy reuses the first's
    # hash partitioning: exactly ONE exchange in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_salted_groupby_content_salt_deterministic(spark):
    """salt_from makes the salted aggregation a pure function of row
    CONTENT: same results AND same per-(key, salt) partials under
    any partitioning — F.rand(seed) cannot promise the partials."""
    from skrub_spark.operators.salting import _content_salt

    df = _aa_frame(spark, skewed=True)
    a = sorted(
        map(
            tuple,
            df.repartition(1)
            .withColumn("s", _content_salt(["v"], 16))
            .groupBy("k", "s")
            .count()
            .collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            df.repartition(7, "v")
            .withColumn("s", _content_salt(["v"], 16))
            .groupBy("k", "s")
            .count()
            .collect(),
        )
    )
    assert a == b
    # the salt really spreads the hot key across buckets
    hot_salts = {t[1] for t in a if t[0] == "hot"}
    assert len(hot_salts) > 4


def test_salted_groupby_agg_salt_from_matches_plain(spark):
    from skrub_spark.operators.salting import salted_groupby_agg

    df = _aa_frame(spark, skewed=True)
    out = salted_groupby_agg(
        df, ["k"], {"n": F.count(F.lit(1)), "s": F.sum("v")},
        salt_from=["v"],
    )
    plain = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, plain.collect())
    )


# --------------------------------------------- r9: PDF text extraction


def test_pdf_roundtrip_and_operators():
    from skrub_spark.multimodal.pdf import (
        _text_from_content,
        build_pdf,
        extract_pdf_text,
    )

    pages = ["Hello world, this is page one.", "Doc 42 appendix"]
    for comp in (False, True):
        r = extract_pdf_text(build_pdf(pages, compress=comp))
        assert r["decode_ok"] and r["n_pages"] == 2 and r["n_streams"] == 2
        assert r["text"] == "\n".join(pages)
    # escapes survive the build->parse loop byte-for-byte
    tricky = ["a (nested (parens)) and \\ slash", "tab\tand\nnewline", "cr\rchar"]
    r = extract_pdf_text(build_pdf(tricky, compress=True))
    assert r["text"] == "\n".join(tricky)
    # the show-text operator zoo (hand-worked semantics)
    assert _text_from_content(b"BT [(He) -120 (llo)] TJ ET") == "Hello"
    assert _text_from_content(b"BT (a) Tj (b) ' ET") == "a\nb"
    assert _text_from_content(b"BT <48656C6C6F> Tj ET") == "Hello"
    assert (
        _text_from_content(b"BT 1 0 0 1 72 720 Tm (x) Tj 0 -14 Td (y) Tj ET")
        == "x\ny"
    )
    assert _text_from_content(b"BT (kept) Tj % (comment) Tj\nET") == "kept"


def test_pdf_guards_never_crash():
    from skrub_spark.multimodal.pdf import build_pdf, extract_pdf_text

    assert extract_pdf_text(None)["decode_ok"] is False
    assert extract_pdf_text(b"not a pdf")["decode_ok"] is False
    assert extract_pdf_text(build_pdf(["x"])[:120])["decode_ok"] in (
        True,
        False,
    )
    enc = build_pdf(["x"]).replace(b"/Size", b"/Encrypt 9 0 R /Size")
    assert extract_pdf_text(enc)["decode_ok"] is False
    cid = build_pdf(["x"]).replace(b"/Subtype /Type1", b"/Subtype /Type0")
    assert extract_pdf_text(cid)["decode_ok"] is False
    # corrupted deflate stream degrades, never raises
    pdf = bytearray(build_pdf(["some page text"], compress=True))
    at = bytes(pdf).find(b"stream\n") + 10
    pdf[at] ^= 0xFF
    r = extract_pdf_text(bytes(pdf))
    assert r["decode_ok"] in (True, False)


def test_pdf_binary_delimiter_collisions():
    """Compressed bytes are arbitrary binary: object extents must
    come from /Length, not from scanning for endobj/endstream (the
    sf0.1 battery found real collisions)."""
    import random
    import string

    from skrub_spark.multimodal.pdf import build_pdf, extract_pdf_text

    rng = random.Random(7)
    for t in range(300):
        p1 = "".join(
            rng.choice(string.ascii_letters + " .,")
            for _ in range(rng.randint(0, 400))
        )
        r = extract_pdf_text(build_pdf([p1, "tail"], compress=True))
        assert r["decode_ok"] and r["n_pages"] == 2
        assert r["text"] == p1 + "\ntail"


def test_pdf_text_stats_dataframe(spark):
    from skrub_spark.multimodal.pdf import build_pdf, pdf_text_stats

    rows = [
        (1, build_pdf(["alpha", "beta"], compress=True)),
        (2, build_pdf(["solo page"])),
        (3, b"junk bytes"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r["id"]: r for r in pdf_text_stats(df).collect()}
    assert out[1]["text"] == "alpha\nbeta" and out[1]["n_pages"] == 2
    assert out[2]["text"] == "solo page" and out[2]["n_chars"] == 9
    assert out[3]["decode_ok"] is False and out[3]["text"] is None
    assert out[4]["decode_ok"] is False


# ---------------------------------------------- r9: text normalization


def test_normalize_text_stages(spark):
    from skrub_spark.operators.normalize import normalize_text

    rows = [
        (1, "Itâ€™s a â€œtestâ€¦ CafÃ© Ã± Ã¼ber"),
        (2, "curly ’q‘ “d” — – − minus… done"),
        (3, "a​b‌c‍d﻿e­f"),  # zero-widths + BOM + soft hyphen
        (4, "x\t\ty\r\nz\rw\n\n\n\n\nv  u "),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in normalize_text(df).collect()}
    assert out[1]["text"] == 'It\'s a "test... Café ñ über'
    assert out[2]["text"] == "curly 'q' \"d\" - - - minus... done"
    assert out[3]["text"] == "abcdef"
    assert out[4]["text"] == "x y\nz\nw\n\nv u"
    assert out[5]["text"] is None and out[5]["chars_removed"] == 0
    # delta reported against the ORIGINAL bytes, in-place mode
    # (5 invisible chars removed from the 11-char input)
    assert out[3]["chars_removed"] == 5


def test_normalize_text_stage_toggles(spark):
    from skrub_spark.operators.normalize import normalize_text_column

    df = spark.createDataFrame([("’x  y",)], "t string")
    only_ws = df.select(
        normalize_text_column(
            "t", fix_mojibake=False, normalize_punct=False
        ).alias("n")
    ).first()["n"]
    assert only_ws == "’x y"
    only_punct = df.select(
        normalize_text_column(
            "t", fix_mojibake=False, normalize_whitespace=False
        ).alias("n")
    ).first()["n"]
    assert only_punct == "'x  y"


def test_normalize_sql_matches_spark_chain(spark):
    """The generated DuckDB chain is the SAME transform: byte
    equality over a frame that exercises every mapping family."""
    import duckdb

    from skrub_spark.operators.normalize import (
        MOJIBAKE_MAP,
        PUNCT_MAP,
        normalize_sql,
        normalize_text,
    )

    rows = [(i, f"x {bad} y") for i, (bad, _) in enumerate(MOJIBAKE_MAP)]
    rows += [
        (100 + i, f"a{bad}b")
        for i, (bad, _) in enumerate(PUNCT_MAP)
    ]
    rows.append((999, " mixed\tâ€™ ’ …\r\n\n\n\nend "))
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: r["text"] for r in normalize_text(df).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(
        con.execute(
            f"SELECT id, {normalize_sql('text')} FROM t"
        ).fetchall()
    )
    assert got == want


# --------------------------------------- r9: quality-aware canonical


def test_keep_best_policy(spark):
    from skrub_spark.dedup.components import keep_best

    df = spark.createDataFrame(
        [
            (1, 0.3),
            (2, 0.9),  # cluster {1,2,3}: 2 wins on score
            (3, 0.9),  # ... 2 beats 3 on the id tie-break
            (7, 0.1),  # singleton: always kept
        ],
        "doc_id long, score double",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "id long, component long"
    )
    out = {r["doc_id"]: r for r in keep_best(df, comps, "score").collect()}
    assert out[2]["kept"] and not out[1]["kept"] and not out[3]["kept"]
    assert out[7]["kept"] and out[7]["cluster"] == 7
    assert out[1]["cluster"] == out[2]["cluster"] == 1


def test_keep_best_partitioning_invariant(spark):
    from skrub_spark.dedup.components import keep_best

    rows = [(i, float((i * 37) % 10) / 10) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    comps = spark.createDataFrame(
        [(i, i % 13) for i in range(150)], "id long, component long"
    )
    a = sorted(map(tuple, keep_best(df, comps, "score").collect()))
    b = sorted(
        map(
            tuple,
            keep_best(df.repartition(17), comps, "score").collect(),
        )
    )
    assert a == b
    # exactly one kept row per cluster
    from collections import Counter

    kept = Counter(t[2] for t in a if t[3])
    clusters = {t[2] for t in a}
    assert set(kept) == clusters and all(v == 1 for v in kept.values())


# ------------------------------------------- r9: more-like-this (MLT)


def test_more_like_this_basic(spark):
    from skrub_spark.operators.keywords import more_like_this

    rows = [
        (1, "apple banana cherry"),
        (2, "apple banana cherry"),  # identical to 1
        (3, "apple banana date"),
        (4, "xylophone zebra quartz"),  # disjoint from 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["probe_id"], r["rank"]): r
        for r in more_like_this(df, [1], top_k=3).collect()
    }
    # identical doc is rank 1 with cosine 1.0
    assert out[(1, 1)]["cand_id"] == 2
    assert out[(1, 1)]["cosine"] == 1.0
    assert out[(1, 2)]["cand_id"] == 3
    # the disjoint doc shares no term: never a candidate
    assert (1, 3) not in out


def test_more_like_this_partitioning_invariant(spark, sf_dir):
    from skrub_spark.operators.keywords import more_like_this
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = sorted(map(tuple, more_like_this(docs, [0, 7], top_k=4).collect()))
    b = sorted(
        map(
            tuple,
            more_like_this(docs.repartition(9), [0, 7], top_k=4).collect(),
        )
    )
    assert a == b


def test_more_like_this_max_df_prunes_join_not_norms(spark):
    from skrub_spark.operators.keywords import more_like_this

    rows = [
        (1, "common rare1"),
        (2, "common rare1"),
        (3, "common rare2"),
        (4, "common rare2"),
        (5, "solo"),  # keeps idf('common') > 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # 'common' has df=4; with max_df=2 only the rare terms join, so
    # 3 and 4 are no longer candidates for probe 1 — but the norms
    # still include 'common', so the cosine to doc 2 stays < 1
    out = more_like_this(df, [1], top_k=4, max_df=2).collect()
    cands = {r["cand_id"] for r in out}
    assert cands == {2}
    assert all(r["cosine"] < 1.0 for r in out)


# -------------------------------------------- r9: winnowing (MOSS)


def test_winnow_guarantee_and_tie_rule(spark):
    from skrub_spark.dedup.winnowing import winnow_fingerprints

    # hand-worked: 12 words -> 10 3-gram positions; w=4 -> 7 windows
    text = " ".join(f"w{i}" for i in range(12))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    fp = winnow_fingerprints(df, k=3, w=4).collect()
    # every window contributes: selected positions cover the doc with
    # gaps < w, and there are at most n_windows selections
    poss = sorted(r["pos"] for r in fp)
    assert 1 <= len(poss) <= 7
    assert all(b - a < 4 for a, b in zip(poss, poss[1:]))
    # pure-python reference: same hash rule, rightmost-min per window
    import hashlib

    toks = text.lower().split()
    grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
    hs = [
        int(hashlib.md5(("wn9|" + g).encode()).hexdigest()[:15], 16)
        for g in grams
    ]
    want = set()
    for s in range(len(hs) - 3):
        wnd = hs[s : s + 4]
        m = min(wnd)
        rp = max(i for i, h in enumerate(wnd) if h == m)
        want.add((s + rp + 1, m))
    assert {(r["pos"], r["fp"]) for r in fp} == want


def test_winnow_short_docs_no_fingerprints(spark):
    from skrub_spark.dedup.winnowing import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "too few words here"), (2, None)],
        "doc_id long, text string",
    )
    # k=3, w=8 needs k+w-1 = 10 words for one full window
    assert winnow_fingerprints(df, k=3, w=8).count() == 0


def test_winnowing_pairs_detect_containment(spark):
    from skrub_spark.dedup.winnowing import winnowing_pairs

    base = " ".join(f"tok{i}" for i in range(40))
    copied = base + " extra trailing words appended here now"
    unrelated = " ".join(f"other{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, copied), (3, unrelated)],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnowing_pairs(df, min_shared=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert all(3 not in p for p in pairs)


def test_winnowing_partitioning_invariant(spark, sf_dir):
    from skrub_spark.dedup.winnowing import winnowing_pairs
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = sorted(map(tuple, winnowing_pairs(docs).collect()))
    b = sorted(map(tuple, winnowing_pairs(docs.repartition(13)).collect()))
    assert a == b


# --------------------------------------------- r9: script profile


def test_script_profile_detection(spark):
    from skrub_spark.functions.text import script_profile

    df = spark.createDataFrame(
        [
            (1, "hello world café"),
            (2, "привет мир"),
            (3, "你好世界 こんにちは"),
            (4, "안녕하세요"),
            (5, "123 !!!"),
            (6, None),
            (7, "mixed русский text here"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in df.select("id", *script_profile("text")).collect()}
    assert out[1]["main_script"] == "latin" and out[1]["n_latin"] == 14
    assert out[2]["main_script"] == "cyrillic"
    # kana beats han in doc 3 (5 kana vs 4 han)
    assert out[3]["main_script"] == "kana" and out[3]["n_han"] == 4
    assert out[4]["main_script"] == "hangul"
    assert out[5]["main_script"] == "none" and out[5]["main_ratio"] is None
    assert out[6]["main_script"] == "none"
    # mixed doc: latin majority, ratio < 1
    assert out[7]["main_script"] == "latin"
    assert 0 < out[7]["main_ratio"] < 1


def test_script_profile_tie_breaks_by_table_order(spark):
    from skrub_spark.functions.text import script_profile

    # 2 latin chars vs 2 cyrillic chars: latin is first in the table
    df = spark.createDataFrame([(1, "ab ой")], "id long, text string")
    r = df.select("id", *script_profile("text")).first()
    assert r["n_latin"] == 2 and r["n_cyrillic"] == 2
    assert r["main_script"] == "latin" and r["main_ratio"] == 0.5


# ------------------------------------------- r9: Hilbert layout


def _hilbert_xy2d(n, x, y):
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference(spark):
    from skrub_spark.sources.layout import hilbert_key

    bits, n = 5, 32
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "a long, b long")
    out = hilbert_key(df, {"a": (0, n), "b": (0, n)}, bits=bits)
    got = {(r["a"], r["b"]): r["hkey"] for r in out.collect()}
    assert got == {(x, y): _hilbert_xy2d(n, x, y) for x, y in rows}
    # the defining property: consecutive keys are adjacent cells
    inv = {d: k for k, d in got.items()}
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(n * n - 1)
    )


def test_hilbert_layout_prunes_at_least_as_well_as_zorder(
    spark, tmp_path
):
    from skrub_spark.sources.layout import (
        file_skip_fraction,
        write_hilbert,
        write_zordered,
    )

    df = spark.range(40_000).select(
        F.col("id").alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(10_000)).cast("double").alias("y"),
    )
    ranges = {"x": (0, 40_000), "y": (0, 10_000)}
    hpath, zpath = str(tmp_path / "hil"), str(tmp_path / "zord")
    write_hilbert(df, hpath, ranges, n_files=16, bits=8)
    write_zordered(df, zpath, ranges, n_files=16, bits=8)
    # off-corner range predicates on BOTH dims
    preds = [
        {"x": (1_000, 3_000)},
        {"y": (200.0, 800.0)},
        {"x": (20_000, 24_000), "y": (4_000.0, 5_000.0)},
    ]
    for p in preds:
        h = file_skip_fraction(hpath, p)
        z = file_skip_fraction(zpath, p)
        assert h > 0  # the layout genuinely prunes
        assert h >= z - 1e-9, (p, h, z)


# ----------------------------------------------- r9: MIME sniffing


def test_sniff_mime_all_formats(spark):
    import gzip
    import io
    import zipfile

    import numpy as np

    from skrub_spark.multimodal import (
        encode_avi,
        encode_bmp,
        encode_jpeg,
        encode_png,
        encode_wav,
    )
    from skrub_spark.multimodal.gif import encode_gif
    from skrub_spark.multimodal.mime import sniff_mime
    from skrub_spark.multimodal.pdf import build_pdf

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("a.txt", "hi")
    rows = [
        (1, bytes(encode_png(px)), "image/png"),
        (2, bytes(encode_jpeg(px)), "image/jpeg"),
        (3, bytes(encode_gif(px)), "image/gif"),
        (4, bytes(encode_bmp(px)), "image/bmp"),
        (5, bytes(encode_wav(np.zeros(64, dtype=np.int16))), "audio/wav"),
        (6, bytes(encode_avi(px[None].repeat(2, axis=0))), "video/avi"),
        (7, build_pdf(["x"]), "application/pdf"),
        (8, gzip.compress(b"data"), "application/gzip"),
        (9, buf.getvalue(), "application/zip"),
        (10, b"<!DOCTYPE html><html>x</html>", "text/html"),
        (11, b"  <HTML><body>upper</body>", "text/html"),
        (12, b"plain text payload", "application/octet-stream"),
        # a RIFF that is neither WAVE nor AVI stays unknown
        (13, b"RIFF\x10\x00\x00\x00ACON rest", "application/octet-stream"),
        (14, None, None),
        (15, b"", "application/octet-stream"),
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p, _ in rows], "id long, payload binary"
    )
    got = {
        r["id"]: r["mime"]
        for r in df.select("id", sniff_mime("payload").alias("mime")).collect()
    }
    assert got == {i: want for i, _, want in rows}


# ------------------------------------- r9: linear multi-touch credit


def test_attribution_linear_semantics(spark):
    import datetime

    from skrub_spark.operators.intervals import attribution_linear

    base = datetime.datetime(2024, 1, 1)

    def ts(sec):
        return base + datetime.timedelta(seconds=sec)

    rows = [
        (1, ts(1), 1, "view"),
        (1, ts(2), 2, "click"),
        (1, ts(3), 3, "purchase"),
        (2, ts(1), 5, "purchase"),  # no touches at all
        (3, ts(1), 6, "view"),
        (3, ts(100), 7, "purchase"),  # touch outside 10s lookback
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = attribution_linear(
        df, "user_id", "ts", "event_id", "event_type",
        conversion="purchase", lookback_us=10_000_000,
    ).collect()
    by_conv = {}
    for r in out:
        by_conv.setdefault(r["conversion_id"], []).append(r)
    # conversion 3: two touches, 0.5 each
    assert {r["touch_id"]: r["credit"] for r in by_conv[3]} == {
        1: 0.5,
        2: 0.5,
    }
    assert all(r["n_touches"] == 2 for r in by_conv[3])
    # conversion 5: no touch events -> one NULL row
    assert len(by_conv[5]) == 1 and by_conv[5][0]["touch_id"] is None
    assert by_conv[5][0]["n_touches"] == 0
    # conversion 7: its only touch fell outside the lookback
    assert len(by_conv[7]) == 1 and by_conv[7][0]["touch_id"] is None


def test_attribution_linear_credit_sums_to_one(spark, sf_dir):
    from skrub_spark.operators.intervals import attribution_linear
    from skrub_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    out = attribution_linear(
        ev, "user_id", "ts", "event_id", "event_type",
        conversion="purchase", lookback_us=7 * 86_400_000_000,
    )
    sums = (
        out.filter(F.col("touch_id").isNotNull())
        .groupBy("conversion_id")
        .agg(F.sum("credit").alias("s"))
        .collect()
    )
    assert sums and all(abs(r["s"] - 1.0) < 1e-4 for r in sums)


# --------------------------- r9: cumulative distinct + FK audit


def test_cumulative_distinct_counts(spark):
    import datetime

    from skrub_spark.operators.sequence import cumulative_distinct

    d = datetime.datetime
    rows = [
        (1, d(2024, 1, 1)), (2, d(2024, 1, 1)),
        (1, d(2024, 1, 2)), (3, d(2024, 1, 2)),
        (1, d(2024, 1, 4)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        str(r["day"]): (r["n_active"], r["new_entities"], r["cum_entities"])
        for r in cumulative_distinct(df, "user_id", "ts").collect()
    }
    assert out["2024-01-01"] == (2, 2, 2)
    assert out["2024-01-02"] == (2, 1, 3)
    # a day with only returning users: new 0, cum carries forward
    assert out["2024-01-04"] == (1, 0, 3)
    # day 3 has no events at all: absent (no fabricated rows)
    assert "2024-01-03" not in out


def test_fk_audit_orphans(spark):
    from skrub_spark.report.profiling import fk_audit

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (9,), (9,), (9,), (None,)],
        "fk long",
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    r = fk_audit(child, parent, "fk", "pk").first()
    assert r["n_child_rows"] == 7 and r["n_null_rows"] == 1
    assert r["n_child_keys"] == 3
    assert r["n_orphan_keys"] == 1 and r["n_orphan_rows"] == 3
    assert r["orphan_row_rate"] == round(3 / 7, 6)
    # clean FK: all zeros
    clean = fk_audit(
        spark.createDataFrame([(1,), (2,)], "fk long"), parent, "fk", "pk"
    ).first()
    assert clean["n_orphan_rows"] == 0 and clean["orphan_row_rate"] == 0.0


# ---------------------------------------------- r9: entity counts


def test_entity_counts(spark):
    from skrub_spark.functions.text import entity_counts

    df = spark.createDataFrame(
        [
            (
                1,
                "mail a@b.com, see https://x.io/p?q=1 from 10.0.0.1 "
                "on 2024-01-02 at 12:30:45 for $1,200.50 #deal",
            ),
            (2, "no entities in plain prose here"),
            (3, None),
        ],
        "id long, text string",
    )
    out = {
        r["id"]: r
        for r in df.select("id", *entity_counts("text").values()).collect()
    }
    r = out[1]
    assert r["n_emails"] == 1 and r["n_urls"] == 1 and r["n_ipv4"] == 1
    assert r["n_iso_dates"] == 1 and r["n_times"] == 1
    assert r["n_currency"] == 1 and r["n_hashtags"] == 1
    assert out[2]["n_emails"] == 0 and out[2]["n_numbers"] == 0
    assert all(out[3][f] == 0 for f in out[3].asDict() if f != "id")


# ------------------------------------------ r9: STL decomposition


def test_stl_decompose_identity_and_edges(spark):
    import datetime

    from skrub_spark.operators.sequence import stl_decompose

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("s", base + datetime.timedelta(days=i), float(100 + (i % 7) * 10))
        for i in range(21)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {
        str(r["day"]): r
        for r in stl_decompose(df, "k", "ts", "v").collect()
    }
    assert len(out) == 21
    # edges: first/last 3 days have no full window -> NULL trend
    for d in ("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-21"):
        assert out[d]["trend"] is None and out[d]["residual"] is None
    # a perfectly periodic series decomposes exactly: trend = the
    # 7-day mean (constant 130), residual = 0 on interior days
    interior = [
        r for d, r in out.items() if r["trend"] is not None
    ]
    assert all(r["trend"] == 130.0 for r in interior)
    assert all(r["residual"] == 0.0 for r in interior)
    # value = trend + seasonal + residual reconstructs
    assert all(
        abs(r["value"] - (r["trend"] + r["seasonal"] + r["residual"]))
        < 1e-6
        for r in interior
    )


def test_stl_decompose_guards(spark):
    import pytest as _pytest

    from skrub_spark.operators.sequence import stl_decompose

    df = spark.createDataFrame([("s", None, 1.0)], "k string, ts timestamp, v double")
    with _pytest.raises(ValueError, match="odd"):
        stl_decompose(df, "k", "ts", "v", trend_window=6)
    with _pytest.raises(ValueError, match="day-of-week"):
        stl_decompose(df, "k", "ts", "v", season_period="month")


# --------------------------------- r9: MWU test + chi-square drift


def test_mann_whitney_hand_worked(spark):
    from skrub_spark.report.abtest import mann_whitney_u

    rows = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney_u(df, "g", "v", "a", "b").first()
    # sorted 1,2,2,2,3,4 -> midranks 1,3,3,3,5,6; R_a = 7
    assert r["n_a"] == 3 and r["n_b"] == 3
    assert r["u_a"] == 1.0 and r["u_b"] == 8.0
    assert r["z"] < 0  # group a stochastically smaller
    # identical distributions: U_a == U_b, z == 0
    same = spark.createDataFrame(
        [("a", float(i)) for i in range(10)]
        + [("b", float(i)) for i in range(10)],
        "g string, v double",
    )
    r2 = mann_whitney_u(same, "g", "v", "a", "b").first()
    assert r2["u_a"] == r2["u_b"] and r2["z"] == 0.0


def test_chi2_drift_hand_worked(spark):
    from skrub_spark.report.drift import chi2_drift

    b = spark.createDataFrame([("x",)] * 50 + [("y",)] * 50, "c string")
    c = spark.createDataFrame([("x",)] * 30 + [("y",)] * 70, "c string")
    r = chi2_drift(b, c, "c").first()
    assert r["dof"] == 1 and r["n_baseline"] == 100
    # manual: 100/40 + 100/40 + 100/60 + 100/60 = 8.3333...
    assert abs(r["chi2"] - 8.333334) < 1e-6
    # identical mixes: statistic 0; nulls fold to a level
    same = spark.createDataFrame([("x",), (None,)], "c string")
    r2 = chi2_drift(same, same, "c").first()
    assert r2["chi2"] == 0.0 and r2["n_categories"] == 2


# ------------------------------------------ r9: plan-audit helpers


def test_plan_audit_helpers(spark, sf_dir):
    from skrub_spark.plans.audit import (
        audit_plan,
        codegen_stages,
        count_exchanges,
        has_broadcast_join,
        pushed_filters,
    )
    from skrub_spark.sources import load_table

    cust = load_table(spark, sf_dir, "customer")
    # a filtered scan pushes its predicate to parquet
    f = cust.filter(F.col("c_custkey") > 100).select("c_custkey")
    assert any("c_custkey" in p for p in pushed_filters(f))
    # map-only plan: zero shuffle exchanges
    assert count_exchanges(f) == 0
    # one groupBy: exactly one exchange, no broadcast
    g = cust.groupBy("c_mktsegment").count()
    assert count_exchanges(g) == 1
    assert not has_broadcast_join(g)
    # broadcast join detected, and broadcast is NOT an exchange
    nation = load_table(spark, sf_dir, "nation")
    j = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    assert has_broadcast_join(j)
    assert count_exchanges(j) == 0
    # AQE only materializes codegen spans on the final plan
    assert codegen_stages(j) == 0
    assert codegen_stages(j, finalize=True) >= 1
    a = audit_plan(j)
    assert a["broadcast_join"] and a["exchanges"] == 0
    assert not a["has_python_udf"]
    # the python-UDF tripwire fires on a mapInPandas stage
    from skrub_spark.multimodal.pdf import pdf_text_stats

    df = spark.createDataFrame([(1, b"%PDF-")], "id long, payload binary")
    assert audit_plan(pdf_text_stats(df))["has_python_udf"]


# -------------------------------------- r9: group robust scaling


def test_robust_scale_by_group(spark):
    from skrub_spark.operators.winsorize import robust_scale_by_group

    rows = [("g", float(v)) for v in [1, 2, 3, 4, 100]] + [
        ("flat", 5.0),
        ("flat", 5.0),
        ("n", None),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = robust_scale_by_group(df, "g", "v").collect()
    by = {(r["g"], r["v"]): r["scaled"] for r in out}
    # n=5: q1=2 (ceil 1.25), med=3, q3=4, iqr=2
    assert by[("g", 1.0)] == -1.0
    assert by[("g", 3.0)] == 0.0
    assert by[("g", 100.0)] == 48.5
    # zero-IQR group and NULL values scale to NULL, rows survive
    assert by[("flat", 5.0)] is None
    assert by[("n", None)] is None
    assert len(out) == 8


# ------------------------------------ r9: frozen-section integrity


def test_frozen_sections_all_present():
    """The three appended _frozen.py sections coexist (the old
    prefix-truncation append would have deleted every section
    after the one being replaced)."""
    src = open("/root/repo/skrub_spark/_frozen.py").read()
    for name in ("LINKAGE_MODEL", "LID_MODEL", "GAP_MODEL"):
        assert src.count(f"\n{name} = ") == 1, name
    import skrub_spark._frozen as fz

    assert fz.LID_MODEL["langs"] == ["de", "en", "es", "fr", "zh"]
    assert len(fz.GAP_MODEL["topics"]) == fz.GAP_MODEL["k"]
    assert "lambda" in fz.LINKAGE_MODEL or isinstance(
        fz.LINKAGE_MODEL, dict
    )
