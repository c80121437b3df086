"""Tests for the late-round-8 additions (privacy gates, drift KS,
readability, tf-idf keywords, KMV source similarity, zipf fit,
shard compaction, label propagation)."""

import pytest

from pyspark.sql import functions as F


# ----------------------------------------------------- privacy gates


def _people(spark):
    # (zip, age_band) quasi; disease sensitive. Class sizes:
    # (z1,a1)=3 rows 2 diseases; (z1,a2)=1 row; (z2,a1)=5 rows but
    # only 1 distinct disease.
    rows = [
        (1, "z1", "a1", "flu"),
        (2, "z1", "a1", "flu"),
        (3, "z1", "a1", "cold"),
        (4, "z1", "a2", "flu"),
        (5, "z2", "a1", "cold"),
        (6, "z2", "a1", "cold"),
        (7, "z2", "a1", "cold"),
        (8, "z2", "a1", "cold"),
        (9, "z2", "a1", "cold"),
    ]
    return spark.createDataFrame(
        rows, "id long, zip string, age string, disease string"
    )


def test_k_anonymity_report_counts_and_flags(spark):
    from skrub_spark.report.privacy import k_anonymity_report

    rep = {
        (r["zip"], r["age"]): r
        for r in k_anonymity_report(
            _people(spark), ["zip", "age"], k=3,
            sensitive_col="disease", l=2,
        ).collect()
    }
    assert rep[("z1", "a1")]["cnt"] == 3
    assert rep[("z1", "a1")]["n_sensitive"] == 2
    assert not rep[("z1", "a1")]["risky_k"]
    assert not rep[("z1", "a1")]["risky_l"]
    # singleton class: k-risky and l-risky
    assert rep[("z1", "a2")]["cnt"] == 1
    assert rep[("z1", "a2")]["risky_k"] and rep[("z1", "a2")]["risky_l"]
    # big but homogeneous class: k-safe yet l-risky
    assert rep[("z2", "a1")]["cnt"] == 5
    assert not rep[("z2", "a1")]["risky_k"]
    assert rep[("z2", "a1")]["risky_l"]


def test_suppress_rare_nulls_quasi_keeps_payload(spark):
    from skrub_spark.report.privacy import suppress_rare

    out = suppress_rare(_people(spark), ["zip", "age"], k=3)
    assert out.columns == ["id", "zip", "age", "disease"]
    rows = {r["id"]: r for r in out.collect()}
    assert rows[4]["zip"] is None and rows[4]["age"] is None
    assert rows[4]["disease"] == "flu"  # payload untouched
    assert rows[1]["zip"] == "z1" and rows[1]["age"] == "a1"
    assert len(rows) == 9


def test_suppress_rare_preserves_types(spark):
    from skrub_spark.report.privacy import suppress_rare

    df = spark.createDataFrame(
        [(1, 10, "x"), (2, 10, "x"), (3, 20, "y")],
        "id long, band long, payload string",
    )
    out = suppress_rare(df, ["band"], k=2)
    assert dict(out.dtypes)["band"] == "bigint"
    got = {r["id"]: r["band"] for r in out.collect()}
    assert got == {1: 10, 2: 10, 3: None}


# ----------------------------------------------------------- KS drift


def test_ks_identical_distributions_is_zero(spark):
    from skrub_spark.report.drift import ks_statistic

    df = spark.createDataFrame(
        [(float(i % 7),) for i in range(70)], "x double"
    )
    r = ks_statistic(df, df, "x").collect()[0]
    assert r["ks"] == 0.0
    assert r["n_ref"] == r["n_cur"] == 70


def test_ks_disjoint_supports_is_one(spark):
    from skrub_spark.report.drift import ks_statistic

    a = spark.createDataFrame([(float(i),) for i in range(5)], "x double")
    b = spark.createDataFrame(
        [(float(i + 100),) for i in range(8)], "x double"
    )
    r = ks_statistic(a, b, "x").collect()[0]
    assert r["ks"] == 1.0
    assert r["at_value"] == 4.0  # last ref value attains sup first


def test_ks_hand_computed_and_null_drop(spark):
    from skrub_spark.report.drift import ks_statistic

    # ref {1,2,3,4}; cur {3,4,4,5, NULL}: ECDFs diverge most at 2
    # (ref 2/4=0.5, cur 0) -> ks = 0.5 at value 2.
    a = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "x double")
    b = spark.createDataFrame(
        [(3.0,), (4.0,), (4.0,), (5.0,), (None,)], "x double"
    )
    r = ks_statistic(a, b, "x").collect()[0]
    assert r["n_cur"] == 4  # NULL dropped
    assert r["ks"] == 0.5 and r["at_value"] == 2.0


def test_ks_partition_invariant(spark):
    from skrub_spark.report.drift import ks_statistic

    a = spark.createDataFrame(
        [(float(i % 13),) for i in range(91)], "x double"
    )
    b = spark.createDataFrame(
        [(float((i * 3) % 17),) for i in range(85)], "x double"
    )
    r1 = ks_statistic(a, b, "x").collect()[0]
    r2 = ks_statistic(a.repartition(7), b.repartition(5), "x").collect()[0]
    assert tuple(r1) == tuple(r2)


# --------------------------------------------------------- readability


def test_readability_hand_computed(spark):
    from skrub_spark.functions.text import readability_columns

    df = spark.createDataFrame(
        [("The cat sat. The dog ran away!",)], "text string"
    )
    cols = readability_columns(F.col("text"))
    r = df.select(*[v.alias(k) for k, v in cols.items()]).collect()[0]
    # words: The cat sat. The dog ran away! -> 7; sentences: 2
    # syllables: the(1) cat(1) sat(1) the(1) dog(1) ran(1) away(2) = 8
    assert r["n_words"] == 7
    assert r["n_sentences"] == 2
    assert r["n_syllables"] == 8
    wps, spw = 7 / 2, 8 / 7
    assert r["flesch"] == round(206.835 - 1.015 * wps - 84.6 * spw, 6)
    assert r["fk_grade"] == round(0.39 * wps + 11.8 * spw - 15.59, 6)


def test_readability_vowelless_word_counts_one_syllable(spark):
    from skrub_spark.functions.text import readability_columns

    df = spark.createDataFrame([("tsk 123 zzz",)], "text string")
    cols = readability_columns(F.col("text"))
    r = df.select(*[v.alias(k) for k, v in cols.items()]).collect()[0]
    assert r["n_words"] == 3 and r["n_syllables"] == 3
    assert r["n_sentences"] == 1  # floor at 1 with no punctuation


def test_readability_empty_text_null_scores(spark):
    from skrub_spark.functions.text import readability_columns

    df = spark.createDataFrame([("   ",), ("",)], "text string")
    cols = readability_columns(F.col("text"))
    for r in df.select(*[v.alias(k) for k, v in cols.items()]).collect():
        assert r["n_words"] == 0 and r["n_syllables"] == 0
        assert r["flesch"] is None and r["fk_grade"] is None


# ------------------------------------------------------ tfidf keywords


def test_tfidf_keywords_hand_computed(spark):
    import math

    from skrub_spark.operators.keywords import tfidf_keywords

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_keywords(df, "text", "doc_id", top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: apple tf=2 df=1 idf=ln(3); banana tf=1 df=2 idf=ln(1.5)
    top1 = sorted(by_doc[1], key=lambda r: r["kw_rank"])
    assert [r["term"] for r in top1] == ["apple", "banana"]
    assert top1[0]["score"] == round(2 * round(math.log(3.0), 6), 6)
    assert top1[0]["tf"] == 2 and top1[0]["df"] == 1
    # every doc has at most top_k rows and ranks are 1..k
    for rows in by_doc.values():
        assert sorted(r["kw_rank"] for r in rows) == list(
            range(1, len(rows) + 1)
        )


def test_tfidf_keywords_tie_breaks_by_term(spark):
    from skrub_spark.operators.keywords import tfidf_keywords

    # both terms appear once in each of the two docs -> equal scores
    df = spark.createDataFrame(
        [(1, "zeta alpha"), (2, "alpha zeta")], "doc_id long, text string"
    )
    out = tfidf_keywords(df, "text", "doc_id", top_k=2).collect()
    for r in out:
        assert (r["kw_rank"] == 1) == (r["term"] == "alpha")


def test_tfidf_keywords_empty_doc_no_rows(spark):
    from skrub_spark.operators.keywords import tfidf_keywords

    df = spark.createDataFrame(
        [(1, "a b"), (2, "   ")], "doc_id long, text string"
    )
    out = tfidf_keywords(df, "text", "doc_id", top_k=3)
    assert out.filter(F.col("doc_id") == 2).count() == 0


# --------------------------------------------- KMV source similarity


def _overlap_corpus(spark):
    # A and B share tokens 0..59 of 100 each -> true J = 60/140.
    rows = [("A", " ".join(f"t{i}" for i in range(100)))]
    rows.append(("B", " ".join(f"t{i}" for i in range(60))))
    rows.append(("B", " ".join(f"u{i}" for i in range(40))))
    # C is disjoint from both.
    rows.append(("C", " ".join(f"v{i}" for i in range(50))))
    return spark.createDataFrame(rows, "src string, text string")


def test_kmv_estimate_close_to_true_jaccard(spark):
    from skrub_spark.report.corpus_sim import kmv_similarity_matrix

    out = {
        (r["src_a"], r["src_b"]): r
        for r in kmv_similarity_matrix(
            _overlap_corpus(spark), "src", "text", k=64
        ).collect()
    }
    ab = out[("A", "B")]
    assert ab["union_k"] == 64
    assert abs(ab["jaccard_est"] - 60 / 140) < 0.15
    assert out[("A", "C")]["jaccard_est"] == 0.0
    assert out[("B", "C")]["n_common"] == 0


def test_kmv_small_groups_exact_jaccard(spark):
    """When both groups' vocabularies fit inside k, the sketch IS
    the set and the estimate is the true Jaccard."""
    from skrub_spark.report.corpus_sim import kmv_similarity_matrix

    df = spark.createDataFrame(
        [("A", "x y z w"), ("B", "y z q")], "src string, text string"
    )
    r = kmv_similarity_matrix(df, "src", "text", k=64).collect()[0]
    assert r["union_k"] == 5 and r["n_common"] == 2
    assert r["jaccard_est"] == round(2 / 5, 6)


def test_kmv_partition_invariant(spark):
    from skrub_spark.report.corpus_sim import kmv_similarity_matrix

    df = _overlap_corpus(spark)
    a = sorted(map(tuple, kmv_similarity_matrix(df, "src", "text", k=32).collect()))
    b = sorted(
        map(
            tuple,
            kmv_similarity_matrix(
                df.repartition(7), "src", "text", k=32
            ).collect(),
        )
    )
    assert a == b


# -------------------------------------------------------------- zipf


def test_zipf_fit_recovers_planted_exponent(spark):
    """freq(rank) = round(1000 * rank^-1) planted exactly -> slope
    close to -1 with high R²."""
    from skrub_spark.report.zipf import zipf_fit

    words = []
    for rank in range(1, 41):
        words += [f"w{rank:03d}"] * max(1, round(1000 / rank))
    # spread across a few docs
    docs = [
        (" ".join(words[i::5]),) for i in range(5)
    ]
    out = zipf_fit(
        spark.createDataFrame(docs, "text string"), "text"
    ).collect()[0]
    assert out["n_types"] == 40
    assert out["n_tokens"] == sum(max(1, round(1000 / r)) for r in range(1, 41))
    assert abs(out["slope"] - (-1.0)) < 0.05
    assert out["r2"] > 0.99


def test_zipf_fit_degenerate_single_type_is_null(spark):
    from skrub_spark.report.zipf import zipf_fit

    out = zipf_fit(
        spark.createDataFrame([("a a a",)], "text string"), "text"
    ).collect()[0]
    assert out["n_types"] == 1 and out["n_tokens"] == 3
    assert out["slope"] is None and out["r2"] is None


def test_zipf_fit_partition_invariant(spark):
    from skrub_spark.report.zipf import zipf_fit

    docs = [(" ".join(f"t{j}" for j in range(i % 17)),) for i in range(60)]
    df = spark.createDataFrame(docs, "text string")
    a = tuple(zipf_fit(df, "text").collect()[0])
    b = tuple(zipf_fit(df.repartition(11), "text").collect()[0])
    assert a == b


# --------------------------------------------------------- compaction


def test_plan_compaction_first_fit_decreasing():
    from skrub_spark.sources.sharding import plan_compaction

    files = [("a", 60), ("b", 50), ("c", 40), ("d", 30), ("e", 20)]
    plan = plan_compaction(files, target_bytes=100)
    # FFD: a(60)->g0(rem 40), b(50)->g1(rem 50), c(40)->g0(rem 0),
    # d(30)->g1(rem 20), e(20)->g1(rem 0)
    assert plan == {"a": 0, "c": 0, "b": 1, "d": 1, "e": 1}


def test_plan_compaction_oversize_file_own_group():
    from skrub_spark.sources.sharding import plan_compaction

    plan = plan_compaction([("big", 500), ("s", 10)], target_bytes=100)
    assert plan["big"] != plan["s"]


def test_plan_compaction_deterministic_on_ties():
    from skrub_spark.sources.sharding import plan_compaction

    files = [("b", 50), ("a", 50), ("c", 50)]
    assert plan_compaction(files, 100) == plan_compaction(
        list(reversed(files)), 100
    )


def test_compact_shards_reduces_files_preserves_content(spark, tmp_path):
    import glob

    from skrub_spark.sources.sharding import compact_shards

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "id long, v string"
    )
    in_p = str(tmp_path / "in")
    out_p = str(tmp_path / "out")
    df.repartition(10).write.parquet(in_p)
    stats = compact_shards(spark, in_p, out_p, target_bytes=1 << 30)
    assert stats["n_input_files"] == 10
    assert stats["n_shards"] == 1
    out_files = glob.glob(out_p + "/**/*.parquet", recursive=True)
    assert len(out_files) == 1  # 10 fragments -> 1 shard file
    back = spark.read.parquet(out_p)
    assert sorted(
        (r["id"], r["v"]) for r in back.select("id", "v").collect()
    ) == [(i, f"v{i}") for i in range(200)]


def test_compact_shards_respects_target(spark, tmp_path):
    from skrub_spark.sources.sharding import compact_shards

    df = spark.createDataFrame(
        [(i, "x" * 50) for i in range(500)], "id long, v string"
    )
    in_p = str(tmp_path / "in2")
    out_p = str(tmp_path / "out2")
    df.repartition(8).write.parquet(in_p)
    stats = compact_shards(spark, in_p, out_p, target_bytes=6000)
    assert 1 < stats["n_shards"] < 8  # packed, but not 1:1
    back = spark.read.parquet(out_p)
    assert back.count() == 500


# ---------------------------------------------------- label propagation


def _lpa_py(edges, n_iter=3):
    """Reference synchronous LPA with (count desc, label asc)
    tie-break over the symmetrized simple graph."""
    adj = {}
    und = set()
    for s, d in edges:
        if s != d:
            und.add((s, d))
            und.add((d, s))
    for s, d in und:
        adj.setdefault(s, set()).add(d)
    lab = {v: v for v in adj}
    for _ in range(n_iter):
        new = {}
        for v, nbrs in adj.items():
            cnt = {}
            for u in nbrs:
                cnt[lab[u]] = cnt.get(lab[u], 0) + 1
            best = min(cnt, key=lambda c: (-cnt[c], c))
            new[v] = best
        lab = new
    return lab


def test_lpa_matches_python_reference_exactly(spark):
    from skrub_spark.operators.graph import label_propagation

    edges = [(i % 13, (i * 5 + 2) % 13) for i in range(40)]
    df = spark.createDataFrame(
        sorted(set(edges)), "src long, dst long"
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, n_iter=3).collect()
    }
    assert got == _lpa_py(edges)


def test_lpa_two_cliques_find_two_communities(spark):
    from skrub_spark.operators.graph import label_propagation

    clique = lambda base: [
        (base + i, base + j) for i in range(5) for j in range(i + 1, 5)
    ]
    edges = clique(0) + clique(100) + [(4, 100)]  # one weak bridge
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, n_iter=4).collect()
    }
    left = {got[v] for v in range(5)}
    right = {got[v] for v in range(100, 105)}
    assert len(left) == 1 and len(right) == 1
    assert left != right  # the bridge does not merge the cliques


def test_lpa_partition_invariant(spark):
    from skrub_spark.operators.graph import label_propagation

    edges = sorted(
        {(i % 17, (i * 3 + 1) % 17) for i in range(60)}
        - {(v, v) for v in range(17)}
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, label_propagation(df, n_iter=3).collect()))
    b = sorted(
        map(
            tuple,
            label_propagation(df.repartition(7), n_iter=3).collect(),
        )
    )
    assert a == b


# ------------------------------------------------- outlinks & host graph


def test_extract_outlinks_absolute_relative_and_case(spark):
    from skrub_spark.operators.domains import extract_outlinks

    html = (
        '<a href="https://Example.COM/a">x</a>'
        ' <a class="z" href="/rel">r</a>'
        ' <a href="http://sub.example.org/b?q=1">y</a>'
        " <p>no link</p>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, text string")
    rows = sorted(
        (r["href"], r["host"])
        for r in extract_outlinks(df, "text", "doc_id").collect()
    )
    assert rows == [
        ("/rel", None),
        ("http://sub.example.org/b?q=1", "sub.example.org"),
        ("https://Example.COM/a", "example.com"),
    ]


def test_host_edges_drops_self_links_and_counts(spark):
    from skrub_spark.operators.domains import host_edges

    df = spark.createDataFrame(
        [
            (
                1,
                "a.org",
                '<a href="https://b.org/1">.</a>'
                ' <a href="https://b.org/2">.</a>'
                ' <a href="https://a.org/self">.</a>',
            ),
            (2, "a.org", '<a href="https://c.org/x">.</a>'),
        ],
        "doc_id long, src_host string, text string",
    )
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_edges(
            df, "text", "doc_id", src_host_col="src_host"
        ).collect()
    }
    assert got == {("a.org", "b.org"): 2, ("a.org", "c.org"): 1}


# ------------------------------------------------------- per-group cap


def test_cap_per_group_keeps_best_n(spark):
    from skrub_spark.operators.sampling import cap_per_group

    rows = [(g, i, 100 - i) for g in ("a", "b") for i in range(10)]
    df = spark.createDataFrame(rows, "g string, id long, q long")
    out = cap_per_group(
        df, "g", 3, [F.col("q").desc(), F.col("id").asc()]
    )
    got = sorted((r["g"], r["id"]) for r in out.collect())
    assert got == [("a", 0), ("a", 1), ("a", 2), ("b", 0), ("b", 1), ("b", 2)]
    assert out.columns == ["g", "id", "q"]  # helper column dropped


def test_cap_per_group_small_groups_untouched(spark):
    from skrub_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("b", 3)], "g string, id long"
    )
    assert cap_per_group(df, "g", 5, [F.col("id")]).count() == 3


# ------------------------------------------------- mutual information


def test_mutual_information_independent_is_zero(spark):
    from skrub_spark.report.associations import mutual_information

    rows = [(a, b) for a in "xy" for b in "uv" for _ in range(25)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = mutual_information(df, "a", "b").collect()[0]
    assert r["mi"] == 0.0 and r["nmi"] == 0.0
    import math

    assert abs(r["h_a"] - math.log(2)) < 1e-5


def test_mutual_information_identical_columns_nmi_one(spark):
    from skrub_spark.report.associations import mutual_information

    rows = [(c, c) for c in "abc" for _ in range(10)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = mutual_information(df, "a", "b").collect()[0]
    assert abs(r["nmi"] - 1.0) < 1e-5
    assert abs(r["mi"] - r["h_a"]) < 1e-4


def test_mutual_information_constant_column_null_nmi(spark):
    from skrub_spark.report.associations import mutual_information

    df = spark.createDataFrame(
        [("k", str(i % 3)) for i in range(30)], "a string, b string"
    )
    r = mutual_information(df, "a", "b").collect()[0]
    assert r["h_a"] == 0.0 and r["nmi"] is None


def test_mutual_information_null_sentinel(spark):
    from skrub_spark.report.associations import mutual_information

    df = spark.createDataFrame(
        [(None, "u"), (None, "u"), ("x", "v"), ("x", "v")],
        "a string, b string",
    )
    r = mutual_information(df, "a", "b").collect()[0]
    # NULL folds into its own category: perfect association
    assert abs(r["nmi"] - 1.0) < 1e-5


# ------------------------------------------------------ quantile clip


def test_quantile_clip_hand_computed(spark):
    from skrub_spark.operators.winsorize import quantile_clip

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "x double"
    )
    out = quantile_clip(df, "x", 0.05, 0.95)
    got = {r["x"]: r["x_clipped"] for r in out.collect()}
    # lower cut: ceil(0.05*100)=5 -> 5.0; upper: ceil(0.95*100)=95 -> 95.0
    assert got[1.0] == 5.0 and got[4.0] == 5.0 and got[5.0] == 5.0
    assert got[50.0] == 50.0
    assert got[95.0] == 95.0 and got[99.0] == 95.0 and got[100.0] == 95.0


def test_quantile_clip_nulls_pass_through(spark):
    from skrub_spark.operators.winsorize import quantile_clip

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (None,)], "x double"
    )
    out = {
        (r["x"]): r["x_clipped"]
        for r in quantile_clip(df, "x", 0.0, 1.0).collect()
    }
    assert out[None] is None
    assert out[1.0] == 1.0 and out[3.0] == 3.0  # p=[0,1] clips nothing


def test_quantile_clip_rejects_bad_range(spark):
    import pytest as _pytest

    from skrub_spark.operators.winsorize import quantile_clip

    df = spark.createDataFrame([(1.0,)], "x double")
    with _pytest.raises(ValueError):
        quantile_clip(df, "x", 0.9, 0.1)


def test_group_sample_fixed_n_exact_counts(spark):
    from skrub_spark.operators.sampling import cap_per_group

    rows = [(i, "g%d" % (i % 3)) for i in range(90)]
    df = spark.createDataFrame(rows, "id long, g string")
    h = F.md5(F.concat(F.lit("s"), F.col("id").cast("string")))
    out = cap_per_group(
        df.withColumn("__h", h), "g", 7, [F.col("__h"), F.col("id")]
    ).drop("__h")
    counts = {
        r["g"]: r["cnt"]
        for r in out.groupBy("g").agg(F.count("*").alias("cnt")).collect()
    }
    assert counts == {"g0": 7, "g1": 7, "g2": 7}
    # reproducible under repartitioning
    out2 = cap_per_group(
        df.repartition(8).withColumn("__h", h),
        "g", 7, [F.col("__h"), F.col("id")],
    ).drop("__h")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, out2.collect())
    )


# -------------------------------------------------------- auto join


def _aj_frames(spark, skewed: bool):
    n = 400
    keys = [0] * 300 + list(range(1, 101)) if skewed else list(range(n))
    left = spark.createDataFrame(
        [(k % 101, i) for i, k in enumerate(keys)], "k long, lv long"
    )
    right = spark.createDataFrame(
        [(k, f"r{k}") for k in range(101)], "k long, rv string"
    )
    return left, right


def test_auto_join_picks_broadcast_for_small_right(spark):
    from skrub_spark.operators.salting import auto_join_with_strategy

    left, right = _aj_frames(spark, skewed=False)
    out, strat = auto_join_with_strategy(left, right, "k")
    assert strat == "broadcast"
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_auto_join_picks_salted_for_skewed_left(spark):
    from skrub_spark.operators.salting import auto_join_with_strategy

    left, right = _aj_frames(spark, skewed=True)
    out, strat = auto_join_with_strategy(
        left, right, "k", broadcast_threshold_rows=10,
        skew_share_threshold=0.2,
    )
    assert strat == "salted"
    plain = left.join(right, "k")
    assert sorted(map(tuple, out.select(*plain.columns).collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_auto_join_plain_shuffle_for_uniform_keys(spark):
    from skrub_spark.operators.salting import auto_join_with_strategy

    left, right = _aj_frames(spark, skewed=False)
    out, strat = auto_join_with_strategy(
        left, right, "k", broadcast_threshold_rows=10,
        skew_share_threshold=0.2,
    )
    assert strat == "shuffle"
    assert out.count() == left.join(right, "k").count()


# -------------------------------------------------- quantile binning


def test_quantile_discretize_equal_frequency(spark):
    from skrub_spark.operators.winsorize import quantile_discretize

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "x double"
    )
    out = quantile_discretize(df, "x", n_bins=4)
    got = {r["x"]: r["x_bin"] for r in out.collect()}
    # edges at 25, 50, 75 -> bins of 24 / 25 / 25 / 26 values
    assert got[1.0] == 0 and got[24.0] == 0
    assert got[25.0] == 1 and got[49.0] == 1
    assert got[50.0] == 2 and got[74.0] == 2
    assert got[75.0] == 3 and got[100.0] == 3


def test_quantile_discretize_degenerate_collapses(spark):
    from skrub_spark.operators.winsorize import quantile_discretize

    df = spark.createDataFrame([(5.0,)] * 20, "x double")
    bins = {
        r["x_bin"]
        for r in quantile_discretize(df, "x", n_bins=4).collect()
    }
    assert bins == {3}  # all edges equal 5.0, every row >= all edges


def test_quantile_discretize_null_bin_and_validation(spark):
    import pytest as _pytest

    from skrub_spark.operators.winsorize import quantile_discretize

    df = spark.createDataFrame([(1.0,), (2.0,), (None,)], "x double")
    got = {
        r["x"]: r["x_bin"]
        for r in quantile_discretize(df, "x", n_bins=2).collect()
    }
    assert got[None] is None
    with _pytest.raises(ValueError):
        quantile_discretize(df, "x", n_bins=1)


# ------------------------------------------------ evaluation metrics


def test_classification_report_hand_computed(spark):
    from skrub_spark.report.evaluation import classification_report

    # labels: a a a b b c ; preds: a a b b c c
    rows = list(zip("aaabbc", "aabbcc"))
    df = spark.createDataFrame(rows, "lab string, prd string")
    rep = {
        r["clazz"]: r
        for r in classification_report(df, "lab", "prd").collect()
    }
    assert rep["a"]["tp"] == 2
    assert rep["a"]["precision"] == 1.0  # 2/2 predicted a
    assert rep["a"]["recall"] == round(2 / 3, 6)
    assert rep["b"]["precision"] == 0.5 and rep["b"]["recall"] == 0.5
    assert rep["c"]["recall"] == 1.0 and rep["c"]["precision"] == 0.5
    assert all(r["accuracy"] == round(4 / 6, 6) for r in rep.values())
    p, r_ = rep["b"]["precision"], rep["b"]["recall"]
    assert rep["b"]["f1"] == round(2 * p * r_ / (p + r_), 6)


def test_classification_report_class_only_in_preds(spark):
    from skrub_spark.report.evaluation import classification_report

    df = spark.createDataFrame(
        [("a", "a"), ("a", "z")], "lab string, prd string"
    )
    rep = {
        r["clazz"]: r
        for r in classification_report(df, "lab", "prd").collect()
    }
    assert rep["z"]["n_true"] == 0 and rep["z"]["n_pred"] == 1
    assert rep["z"]["recall"] is None and rep["z"]["f1"] is None
    assert rep["z"]["precision"] == 0.0


def test_calibration_report_perfectly_calibrated(spark):
    from skrub_spark.report.evaluation import calibration_report

    # score 0.25 -> 1/4 positive; score 0.75 -> 3/4 positive
    rows = [(0.25, 1)] + [(0.25, 0)] * 3 + [(0.75, 1)] * 3 + [(0.75, 0)]
    df = spark.createDataFrame(rows, "s double, y int")
    rep = {
        r["bin"]: r for r in calibration_report(df, "s", "y", 10).collect()
    }
    assert set(rep) == {2, 7}
    assert rep[2]["conf"] == 0.25 and rep[2]["acc"] == 0.25
    assert rep[7]["gap"] == 0.0
    assert all(r["ece"] == 0.0 for r in rep.values())


def test_calibration_report_score_one_lands_in_top_bin(spark):
    from skrub_spark.report.evaluation import calibration_report

    df = spark.createDataFrame(
        [(1.0, 1), (0.999, 1), (None, 1), (0.5, None)], "s double, y int"
    )
    rep = calibration_report(df, "s", "y", 10).collect()
    assert len(rep) == 1 and rep[0]["bin"] == 9 and rep[0]["n"] == 2


def test_regression_report_hand_computed(spark):
    import math

    from skrub_spark.report.evaluation import regression_report

    # y = 1,2,3,4 ; yhat = 1,2,3,8 -> mae=1, rmse=2, ybar=2.5
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (4.0, 8.0)],
        "y double, yh double",
    )
    r = regression_report(df, "y", "yh").collect()[0]
    assert r["n"] == 4
    assert r["mae"] == 1.0
    assert r["rmse"] == 2.0
    sst = sum((v - 2.5) ** 2 for v in (1, 2, 3, 4))
    assert r["r2"] == round(1 - 16 / sst, 6)
    assert math.isfinite(r["r2"])


def test_regression_report_constant_target_null_r2(spark):
    from skrub_spark.report.evaluation import regression_report

    df = spark.createDataFrame(
        [(5.0, 4.0), (5.0, 6.0)], "y double, yh double"
    )
    r = regression_report(df, "y", "yh").collect()[0]
    assert r["r2"] is None and r["mae"] == 1.0


# ------------------------------------------------ binary quantization


def test_binary_packing_matches_python(spark):
    import numpy as np

    from skrub_spark.similarity.quantize import (
        binary_words_expr,
        encode_binary_python,
    )

    rng = np.random.RandomState(7)
    vecs = [rng.randn(64).round(3).tolist() for _ in range(20)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: list(r["w"])
        for r in df.select(
            "vec_id", binary_words_expr("embedding", 64).alias("w")
        ).collect()
    }
    for i, v in enumerate(vecs):
        assert got[i] == encode_binary_python(v)


def test_topk_hamming_identical_vector_is_rank_one(spark):
    import numpy as np

    from skrub_spark.similarity.quantize import topk_hamming

    rng = np.random.RandomState(11)
    vecs = [rng.randn(64).tolist() for _ in range(50)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    out = topk_hamming(df, vecs[17], k=3).collect()
    assert out[0]["vec_id"] == 17 and out[0]["hamming"] == 0


def test_topk_hamming_recall_vs_exact_cosine(spark):
    """Sign-random-projection bound: on unit Gaussians, Hamming
    top-10 should recover most of the exact cosine top-10 for a
    clustered query."""
    import numpy as np

    from skrub_spark.similarity.quantize import topk_hamming

    rng = np.random.RandomState(3)
    base = rng.randn(64)
    vecs = []
    for i in range(200):
        if i < 10:  # planted near-neighbors, well separated from noise
            vecs.append(base * 3.0 + 0.4 * rng.randn(64))
        else:
            vecs.append(rng.randn(64))
    q = base
    norm = [v / np.linalg.norm(v) for v in vecs]
    cos = [float(np.dot(n, q / np.linalg.norm(q))) for n in norm]
    exact_top = set(np.argsort(cos)[::-1][:10])
    assert exact_top == set(range(10))  # sanity: planted ARE the top
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"] for r in topk_hamming(df, q.tolist(), k=10).collect()}
    assert len(got & exact_top) >= 8  # recall@10 >= 0.8 at 32x compression


# ---------------------------------------------------- sequence ops


def test_event_transitions_hand_computed(spark):
    from skrub_spark.operators.sequence import event_transitions

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
        (2, 1, "a"), (2, 2, "b"),
    ]
    df = spark.createDataFrame(rows, "u long, t long, s string")
    got = {
        (r["from_state"], r["to_state"]): (r["n"], r["prob"])
        for r in event_transitions(df, "u", [F.col("t")], "s").collect()
    }
    # a->b happens 3x (u1 twice, u2 once); b->a once
    assert got[("a", "b")] == (3, 1.0)
    assert got[("b", "a")] == (1, 1.0)
    assert len(got) == 2  # no cross-user transition (u1 end -> u2 start)


def test_event_transitions_probs_row_normalized(spark):
    from skrub_spark.operators.sequence import event_transitions

    rows = [(1, i, s) for i, s in enumerate("aabac")]
    df = spark.createDataFrame(rows, "u long, t long, s string")
    out = event_transitions(df, "u", [F.col("t")], "s").collect()
    from collections import defaultdict

    sums = defaultdict(float)
    for r in out:
        sums[r["from_state"]] += r["prob"]
    for v in sums.values():
        # probs are individually rounded to 6dp, so a row of k
        # states can be off by up to k*5e-7
        assert abs(v - 1.0) < 1e-5


def test_changepoint_finds_planted_shift(spark):
    from skrub_spark.operators.sequence import changepoint_mean_shift

    # level 10 for days 0..9, level 30 for days 10..19
    rows = [(d, 10 if d < 10 else 30) for d in range(20)]
    df = spark.createDataFrame(rows, "period long, cnt long")
    r = changepoint_mean_shift(df, "period", "cnt").collect()[0]
    assert r["split_after"] == 9
    assert r["mean_left"] == 10.0 and r["mean_right"] == 30.0
    # stat = |10-30| * sqrt(10*10/20)
    import math

    assert r["stat"] == round(20 * math.sqrt(5.0), 6)


def test_changepoint_single_period_empty(spark):
    from skrub_spark.operators.sequence import changepoint_mean_shift

    df = spark.createDataFrame([(1, 5)], "period long, cnt long")
    assert changepoint_mean_shift(df, "period", "cnt").count() == 0


# -------------------------------------------- streaming transitions


def test_streaming_transitions_cross_batch_continuity(spark, tmp_path):
    """A user whose consecutive events land in different
    micro-batches still yields the boundary transition — the whole
    point of the state store."""
    import glob
    import os
    import shutil
    import uuid

    import pandas as pd

    from skrub_spark.streaming.ops import streaming_transitions

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 0: user 1 events a(t1) b(t2); batch 1: c(t3) — the b->c
    # transition ONLY exists if state crosses the boundary
    b0 = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2024-01-01 00:00:01", "2024-01-01 00:00:02"]),
            "user_id": [1, 1],
            "event_type": ["a", "b"],
        }
    )
    b1 = pd.DataFrame(
        {
            "event_id": [3],
            "ts": pd.to_datetime(["2024-01-01 00:00:03"]),
            "user_id": [1],
            "event_type": ["c"],
        }
    )
    for i, pdf in enumerate((b0, b1)):
        sdf = spark.createDataFrame(pdf)
        d = str(tmp_path / f"w{i}")
        sdf.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = "sttr_" + uuid.uuid4().hex[:8]
    q = (
        streaming_transitions(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    n_batches = sum(1 for p in q.recentProgress if p.numInputRows > 0)
    assert n_batches >= 2
    got = sorted(
        (r["from_state"], r["to_state"])
        for r in spark.table(name).collect()
    )
    assert got == [("a", "b"), ("b", "c")]


# ----------------------------------------------------- ranking metrics


def _run_frame(spark, rels, nrel, k=10):
    rows = [(1, i + 1, r, nrel) for i, r in enumerate(rels)]
    return spark.createDataFrame(
        rows, "qid long, rnk int, rel int, nrel long"
    )


def test_ranking_report_perfect_run(spark):
    from skrub_spark.report.evaluation import ranking_report

    df = _run_frame(spark, [1] * 10, nrel=10)
    r = ranking_report(df, "qid", "rnk", "rel", "nrel", k=10).collect()[0]
    assert r["hits"] == 10 and r["precision_at_k"] == 1.0
    assert r["mrr"] == 1.0
    assert r["ndcg"] == 1.0


def test_ranking_report_hand_computed(spark):
    import math

    from skrub_spark.report.evaluation import ranking_report

    # relevant at ranks 2 and 5; corpus has 3 relevant total
    df = _run_frame(spark, [0, 1, 0, 0, 1, 0, 0, 0, 0, 0], nrel=3)
    r = ranking_report(df, "qid", "rnk", "rel", "nrel", k=10).collect()[0]
    assert r["hits"] == 2
    assert r["mrr"] == 0.5
    t = lambda i: round(1.0 / math.log2(i + 1), 6)
    dcg = round(t(2) + t(5), 6)
    assert abs(r["dcg"] - dcg) < 1e-9
    idcg = round(round(t(1) + t(2), 6) + t(3), 6)
    assert r["ndcg"] == round(r["dcg"] / idcg, 6)


def test_ranking_report_no_relevant_zeroes(spark):
    from skrub_spark.report.evaluation import ranking_report

    df = _run_frame(spark, [0] * 10, nrel=0)
    r = ranking_report(df, "qid", "rnk", "rel", "nrel", k=10).collect()[0]
    assert r["hits"] == 0 and r["mrr"] == 0.0 and r["dcg"] == 0.0
    assert r["ndcg"] is None  # idcg undefined with zero relevant


def test_privacy_rejects_empty_quasi(spark):
    from skrub_spark.report.privacy import (
        k_anonymity_report,
        suppress_rare,
    )

    df = _people(spark)
    with pytest.raises(ValueError):
        k_anonymity_report(df, [])
    with pytest.raises(ValueError):
        suppress_rare(df, [])


# --------------------------------------------------- triangle counting


def test_triangle_stats_k4(spark):
    from skrub_spark.operators.graph import triangle_stats

    # K4: 4 triangles total, each node in 3; coeff 2*3/(3*2) = 1.0
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src long, dst long",
    )
    rows = triangle_stats(edges).orderBy("node").collect()
    assert len(rows) == 4
    for r in rows:
        assert r["degree"] == 3
        assert r["triangles"] == 3
        assert r["clustering_coeff"] == 1.0


def test_triangle_stats_path_and_pendant(spark):
    from skrub_spark.operators.graph import triangle_stats

    # path 0-1-2-3: no triangles; endpoints degree 1 -> NULL coeff
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    got = {r["node"]: r for r in triangle_stats(edges).collect()}
    assert all(r["triangles"] == 0 for r in got.values())
    assert got[0]["clustering_coeff"] is None
    assert got[3]["clustering_coeff"] is None
    assert got[1]["clustering_coeff"] == 0.0


def test_triangle_stats_dedups_reversed_and_self(spark):
    from skrub_spark.operators.graph import triangle_stats

    # triangle given with duplicates, reversed edges, and a self-loop
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 0), (0, 2), (2, 2), (0, 1)],
        "src long, dst long",
    )
    rows = triangle_stats(edges).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["degree"] == 2
        assert r["triangles"] == 1
        assert r["clustering_coeff"] == 1.0


def test_triangle_stats_matches_bruteforce(spark):
    import itertools
    import random

    from skrub_spark.operators.graph import triangle_stats

    rng = random.Random(7)
    und = sorted(
        {
            (a, b)
            for a, b in (
                sorted(rng.sample(range(20), 2)) for _ in range(60)
            )
        }
    )
    adj: dict[int, set[int]] = {}
    for x, y in und:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    tri = {n: 0 for n in adj}
    for x, y in und:
        for z in adj[x] & adj[y]:
            if z > y:
                for n in (x, y, z):
                    tri[n] += 1
    edges = spark.createDataFrame(und, "src long, dst long")
    got = {
        r["node"]: r["triangles"]
        for r in triangle_stats(edges).collect()
    }
    assert got == tri


# ----------------------------------------------------- Hampel outliers


def test_mad_outliers_hand_computed(spark):
    from decimal import Decimal

    from skrub_spark.report.outliers import mad_outliers

    # odd group: values 1..5 + a spike; median 3.5 (even, avg of 3,4)
    rows = [
        (1, "a", "1.00"), (2, "a", "2.00"), (3, "a", "3.00"),
        (4, "a", "4.00"), (5, "a", "5.00"), (6, "a", "100.00"),
    ]
    df = spark.createDataFrame(
        [(i, g, Decimal(v)) for i, g, v in rows],
        "id long, grp string, val decimal(12,2)",
    )
    got = {
        r["id"]: r
        for r in mad_outliers(df, "grp", "val", "id", k="3.0").collect()
    }
    # median = (3+4)/2 = 3.5; devs = 2.5,1.5,0.5,0.5,1.5,96.5
    # sorted: 0.5,0.5,1.5,1.5,2.5,96.5 -> MAD = (1.5+1.5)/2 = 1.5
    assert got[1]["med"] == 3.5 and got[1]["mad"] == 1.5
    # |x-3.5| > 4.5: only the spike
    assert [i for i in got if got[i]["is_outlier"]] == [6]


def test_mad_outliers_odd_group_and_zero_mad(spark):
    from decimal import Decimal

    from skrub_spark.report.outliers import mad_outliers

    # 5 identical values + 2 different: median 7, MAD 0 ->
    # every non-median value flagged (degenerate Hampel case)
    vals = ["7.00"] * 5 + ["7.01", "6.99"]
    df = spark.createDataFrame(
        [(i, "g", Decimal(v)) for i, v in enumerate(vals)],
        "id long, grp string, val decimal(12,2)",
    )
    got = {
        r["id"]: r
        for r in mad_outliers(df, "grp", "val", "id").collect()
    }
    assert got[0]["med"] == 7.0 and got[0]["mad"] == 0.0
    flagged = sorted(i for i in got if got[i]["is_outlier"])
    assert flagged == [5, 6]


def test_mad_outliers_boundary_not_flagged(spark):
    from decimal import Decimal

    from skrub_spark.report.outliers import mad_outliers

    # |x - med| == k*MAD exactly must NOT flag (strict >)
    # values: 0,10,20 -> med 10, devs 10,0,10 -> MAD 10; k=1
    df = spark.createDataFrame(
        [(1, "g", Decimal("0.00")), (2, "g", Decimal("10.00")),
         (3, "g", Decimal("20.00"))],
        "id long, grp string, val decimal(12,2)",
    )
    got = mad_outliers(df, "grp", "val", "id", k="1.0").collect()
    assert all(not r["is_outlier"] for r in got)


# ------------------------------------------------------- Benford audit


def test_benford_first_digit_exact(spark):
    from decimal import Decimal

    from skrub_spark.report.benford import benford_audit

    # powers of ten land exactly on digit 1 (float log10 would err)
    vals = ["1.00", "10.00", "100.00", "1000.00", "99999.99",
            "0.05", "0.00", "-5.00", "20.00"]
    df = spark.createDataFrame(
        [(Decimal(v),) for v in vals], "val decimal(12,2)"
    )
    got = {r["digit"]: r for r in benford_audit(df, "val").collect()}
    assert len(got) == 9
    # zero and negative excluded -> 7 positive values
    assert got[1]["n_values"] == 7
    assert got[1]["observed"] == 4   # 1, 10, 100, 1000
    assert got[9]["observed"] == 1   # 99999.99
    assert got[5]["observed"] == 1   # 0.05 -> digit 5
    assert got[2]["observed"] == 1   # 20.00
    assert got[3]["observed"] == 0


def test_benford_chi2_hand_computed(spark):
    import math
    from decimal import Decimal

    from skrub_spark.report.benford import benford_audit

    df = spark.createDataFrame(
        [(Decimal("1.00"),), (Decimal("2.00"),)], "val decimal(12,2)"
    )
    got = {r["digit"]: r for r in benford_audit(df, "val").collect()}
    p1 = round(math.log10(2.0), 6)
    e1 = 2 * p1
    assert got[1]["expected_p"] == p1
    assert got[1]["observed_p"] == 0.5
    assert got[1]["chi2_term"] == round((1 - e1) ** 2 / e1, 6)
    # digit with zero observations still contributes its full term
    p9 = round(math.log10(1 + 1 / 9), 6)
    e9 = 2 * p9
    assert got[9]["observed"] == 0
    assert got[9]["chi2_term"] == round(e9, 6)


# ---------------------------------------------------- target encoders


def test_target_encode_m_estimate(spark):
    from skrub_spark.encoders.target_encoder import target_encode

    # cat a: 3 rows 2 pos; cat b: 1 row 0 pos; N=4, S=2, m=2
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 0), ("b", 0)], "cat string, y int"
    )
    got = {
        r["cat"]: r for r in target_encode(df, "cat", "y", m=2).collect()
    }
    # a: (4*2 + 2*2) / (4*(3+2)) = 12/20 = 0.6
    assert got["a"]["encoding"] == 0.6
    # b: (4*0 + 2*2) / (4*(1+2)) = 4/12
    assert got["b"]["encoding"] == round(4 / 12, 6)


def test_target_encode_loo_and_singleton(spark):
    from skrub_spark.encoders.target_encoder import target_encode_loo

    df = spark.createDataFrame(
        [(1, "a", 1), (2, "a", 0), (3, "a", 1), (4, "b", 1)],
        "id long, cat string, y int",
    )
    got = {
        r["id"]: r
        for r in target_encode_loo(df, "cat", "y", "id").collect()
    }
    # cat a: S=2, n=3. row1: (2-1)/2 = 0.5; row2: (2-0)/2 = 1.0
    assert got[1]["encoding"] == 0.5
    assert got[2]["encoding"] == 1.0
    assert got[3]["encoding"] == 0.5
    # singleton b falls back to global mean 3/4
    assert got[4]["encoding"] == 0.75


def test_woe_iv_hand_computed(spark):
    import math

    from skrub_spark.encoders.target_encoder import woe_iv

    # cat a: 2 pos 1 neg; cat b: 0 pos 2 neg -> b would div0 unsmoothed
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 0), ("b", 0), ("b", 0)],
        "cat string, y int",
    )
    got = {r["cat"]: r for r in woe_iv(df, "cat", "y").collect()}
    # half-units: G=2,B=3,|C|=2 -> gt2=6, bt2=8
    # a: g2=5,b2=3 -> woe = ln(5*8/(3*6))
    woe_a = round(math.log(40 / 18), 6)
    assert got["a"]["woe"] == woe_a
    gp, bp = round(5 / 6, 6), round(3 / 8, 6)
    assert got["a"]["iv_term"] == round((gp - bp) * woe_a, 6)
    # b: g2=1,b2=5 -> woe = ln(8/30) < 0, finite thanks to smoothing
    assert got["b"]["woe"] == round(math.log(8 / 30), 6)
    assert got["b"]["n_pos"] == 0 and got["b"]["n_neg"] == 2


# ------------------------------------------- streaming heavy hitters


def test_streaming_heavy_hitters_cross_batch(spark, tmp_path):
    """A key that only reaches the threshold by ACCUMULATING across
    micro-batches alerts in the later batch with the cumulative
    count; a key crossing in batch 0 alerts with its batch-0 count;
    a key never reaching it is silent; nobody alerts twice."""
    import glob
    import os
    import shutil
    import uuid

    import pandas as pd

    from skrub_spark.streaming.ops import streaming_heavy_hitters

    src = str(tmp_path / "src")
    os.makedirs(src)
    # key 1: 3 then 2 events (alerts batch 1 at 5); key 2: 4 events
    # in batch 0 (alerts batch 0 at 4, stays silent after);
    # key 3: 1+1 events (never alerts). threshold = 4
    b0 = pd.DataFrame(
        {"event_id": range(8), "user_id": [1, 1, 1, 2, 2, 2, 2, 3]}
    )
    b1 = pd.DataFrame(
        {"event_id": range(8, 12), "user_id": [1, 1, 2, 3]}
    )
    for i, pdf in enumerate((b0, b1)):
        sdf = spark.createDataFrame(pdf)
        d = str(tmp_path / f"w{i}")
        sdf.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copyfile(
            glob.glob(os.path.join(d, "part-*.parquet"))[0], dst
        )
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = "sthh_" + uuid.uuid4().hex[:8]
    q = (
        streaming_heavy_hitters(stream, "user_id", threshold=4)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    n_batches = sum(1 for p in q.recentProgress if p.numInputRows > 0)
    assert n_batches >= 2
    got = sorted(
        (r["key"], r["count_at_alert"])
        for r in spark.table(name).collect()
    )
    # key 2 alerts at its batch-0 count 4 (5 total would mean a
    # double alert or late alert); key 1 at cumulative 5
    assert got == [(1, 5), (2, 4)]


# -------------------------------------------------- association rules


def test_association_rules_hand_computed(spark):
    from skrub_spark.operators.association import association_rules

    # baskets: {A,B}, {A,B}, {A,C}, {B} -> N=4
    rows = [
        (1, "A"), (1, "B"), (2, "A"), (2, "B"),
        (3, "A"), (3, "C"), (4, "B"),
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    got = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(
            df, "basket", "item", min_support_count=2
        ).collect()
    }
    # counts: A=3, B=3, C=1 (infrequent -> pruned); pair AB = 2
    assert set(got) == {("A", "B"), ("B", "A")}
    ab = got[("A", "B")]
    assert ab["pair_count"] == 2
    assert ab["support"] == 0.5
    assert ab["confidence"] == round(2 / 3, 6)
    assert ab["lift"] == round(4 * 2 / 9, 6)
    # reverse direction: same support/lift, its own confidence
    ba = got[("B", "A")]
    assert ba["confidence"] == round(2 / 3, 6)
    assert ba["lift"] == ab["lift"]


def test_association_rules_dedups_multiplicity(spark):
    from skrub_spark.operators.association import association_rules

    # item repeated in one basket counts once
    rows = [(1, "A"), (1, "A"), (1, "B"), (2, "A"), (2, "B")]
    df = spark.createDataFrame(rows, "basket long, item string")
    got = association_rules(
        df, "basket", "item", min_support_count=2
    ).collect()
    assert {r["pair_count"] for r in got} == {2}


def test_association_rules_min_support_prunes_pairs(spark):
    from skrub_spark.operators.association import association_rules

    # A and B frequent alone but co-occur only once -> no rule
    rows = [(1, "A"), (1, "B"), (2, "A"), (3, "B")]
    df = spark.createDataFrame(rows, "basket long, item string")
    assert (
        association_rules(
            df, "basket", "item", min_support_count=2
        ).count()
        == 0
    )


# --------------------------------------------------- sequence anomaly


def test_sequence_anomaly_hand_computed(spark):
    import math

    from skrub_spark.operators.sequence import sequence_anomaly
    from pyspark.sql import functions as F

    # user 1: a->b, b->a, a->b ; user 2: a->c
    # matrix: a->b 2/3, a->c 1/3, b->a 1/1
    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
        (2, 1, "a"), (2, 2, "c"),
    ]
    df = spark.createDataFrame(rows, "uid long, seq long, st string")
    got = {
        r["entity"]: r
        for r in sequence_anomaly(
            df, "uid", [F.col("seq")], "st"
        ).collect()
    }
    p_ab = round(2 / 3, 6)
    s_ab = round(-math.log(p_ab), 6)
    s_ba = round(-math.log(1.0), 6)  # = 0
    s_ac = round(-math.log(round(1 / 3, 6)), 6)
    assert got[1]["n_transitions"] == 3
    exp1 = round((s_ab + s_ba + s_ab) / 3, 6)
    assert abs(got[1]["avg_surprise"] - exp1) < 1e-9
    assert got[2]["n_transitions"] == 1
    assert got[2]["avg_surprise"] == s_ac
    # the rare-edge user scores strictly higher
    assert got[2]["avg_surprise"] > got[1]["avg_surprise"]


def test_sequence_anomaly_single_event_entities_absent(spark):
    from skrub_spark.operators.sequence import sequence_anomaly
    from pyspark.sql import functions as F

    rows = [(1, 1, "a"), (1, 2, "b"), (2, 1, "a")]
    df = spark.createDataFrame(rows, "uid long, seq long, st string")
    got = sequence_anomaly(df, "uid", [F.col("seq")], "st").collect()
    # entity 2 has no transitions -> no row
    assert [r["entity"] for r in got] == [1]


# ------------------------------------------------------------- k-core


def test_k_core_peels_periphery_keeps_core(spark):
    from skrub_spark.operators.graph import k_core

    # K5 core (degree 4) + a pendant chain hanging off node 0
    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    chain = [(0, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(k5 + chain, "src long, dst long")
    rows = k_core(edges, k=3, n_iter=4).collect()
    got = {r["node"]: r["degree"] for r in rows}
    # chain peels over multiple rounds; K5 survives intact with
    # its INTERNAL degrees (node 0 loses its chain edge)
    assert got == {n: 4 for n in range(5)}


def test_k_core_empty_when_no_core(spark):
    from skrub_spark.operators.graph import k_core

    path = [(0, 1), (1, 2), (2, 3)]
    edges = spark.createDataFrame(path, "src long, dst long")
    assert k_core(edges, k=2, n_iter=4).count() == 0


def test_k_core_planted_graph_fixpoint_within_budget(spark):
    """The battery graph must converge strictly inside the fixed
    round budget — extra rounds are no-ops, not semantics."""
    from skrub_spark.queries import q_k_core

    sf = "/root/testdata/sf0.001"
    r4 = {
        (r["node"], r["degree"])
        for r in q_k_core(spark, sf).collect()
    }
    # 6-core of the planted graph: 16 nodes, all within the dense
    # 20-node component
    assert len(r4) == 16
    assert all(n < 20 and d >= 6 for n, d in r4)


# ------------------------------------------------------ window funnel


def _wf_events(spark, rows):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    data = [
        (u, base + datetime.timedelta(seconds=s), st)
        for u, s, st in rows
    ]
    return spark.createDataFrame(
        data, "user_id long, ts timestamp, event_type string"
    )


def test_window_funnel_steps_and_window_cut(spark):
    from skrub_spark.operators.sequence import window_funnel

    rows = [
        # user 1: full chain inside 100s window
        (1, 0, "a"), (1, 10, "b"), (1, 20, "c"),
        # user 2: step 3 lands outside the window -> step 2
        (2, 0, "a"), (2, 10, "b"), (2, 200, "c"),
        # user 3: b BEFORE a -> only step 1
        (3, 50, "a"), (3, 10, "b"),
        # user 4: no step-1 event -> absent
        (4, 0, "b"), (4, 10, "c"),
    ]
    got = {
        r["entity"]: r["step_reached"]
        for r in window_funnel(
            _wf_events(spark, rows),
            "user_id", "ts", "event_type", ["a", "b", "c"],
            window_us=100_000_000,
        ).collect()
    }
    assert got == {1: 3, 2: 2, 3: 1}


def test_window_funnel_greedy_first_anchor(spark):
    from skrub_spark.operators.sequence import window_funnel

    # the FIRST 'a' anchors the window even though a later 'a'
    # would have completed the chain — greedy-first convention
    rows = [(1, 0, "a"), (1, 500, "a"), (1, 510, "b")]
    got = window_funnel(
        _wf_events(spark, rows),
        "user_id", "ts", "event_type", ["a", "b"],
        window_us=100_000_000,
    ).collect()
    assert got[0]["step_reached"] == 1
    assert got[0]["t_first_us"] == 1704067200000000


# --------------------------------------------------- seasonal profile


def test_seasonal_profile_dense_grid_and_dow(spark):
    import datetime

    from skrub_spark.operators.sequence import seasonal_profile

    # 2024-01-01 was a MONDAY; 14:30 UTC -> cell (0, 14)
    rows = [
        (datetime.datetime(2024, 1, 1, 14, 30),),
        (datetime.datetime(2024, 1, 1, 14, 45),),
        (datetime.datetime(2024, 1, 7, 3, 0),),  # Sunday -> dow 6
    ]
    df = spark.createDataFrame(rows, "ts timestamp")
    out = seasonal_profile(df, "ts").collect()
    assert len(out) == 168  # dense grid, zero cells included
    got = {(r["dow"], r["hour"]): r for r in out}
    assert got[(0, 14)]["n"] == 2
    assert got[(6, 3)]["n"] == 1
    assert got[(0, 14)]["share"] == round(2 / 3, 6)
    assert got[(0, 14)]["lift"] == round(336 / 3, 6)
    assert got[(2, 10)]["n"] == 0 and got[(2, 10)]["lift"] == 0.0


# ------------------------------------------------------ grouped trend


def test_grouped_trend_exact_line_and_degenerate(spark):
    from skrub_spark.report.trend import grouped_trend

    rows = [
        # group a: exact line y = 2x + 1 -> slope 2, r2 = 1
        ("a", 0, 1.0), ("a", 1, 3.0), ("a", 2, 5.0),
        # group b: single point -> varx = 0 -> NULLs
        ("b", 5, 10.0),
        # group c: flat y -> slope 0, vary = 0 -> r2 NULL
        ("c", 0, 4.0), ("c", 1, 4.0), ("c", 2, 4.0),
    ]
    df = spark.createDataFrame(rows, "g string, x long, y double")
    got = {
        r["g"]: r for r in grouped_trend(df, "g", "x", "y").collect()
    }
    assert got["a"]["slope"] == 2.0
    assert got["a"]["intercept"] == 1.0
    assert got["a"]["r2"] == 1.0
    assert got["b"]["slope"] is None and got["b"]["r2"] is None
    assert got["c"]["slope"] == 0.0
    assert got["c"]["intercept"] == 4.0
    assert got["c"]["r2"] is None


def test_grouped_trend_matches_numpy(spark):
    import numpy as np

    from skrub_spark.report.trend import grouped_trend

    rng = np.random.default_rng(11)
    xs = np.arange(30)
    ys = np.round(3.5 * xs + 7 + rng.normal(0, 2, 30), 2)
    rows = [("g", int(x), float(y)) for x, y in zip(xs, ys)]
    df = spark.createDataFrame(rows, "g string, x long, y double")
    r = grouped_trend(df, "g", "x", "y").collect()[0]
    slope, intercept = np.polyfit(xs, ys, 1)
    assert abs(r["slope"] - slope) < 1e-4
    assert abs(r["intercept"] - intercept) < 1e-3
    assert 0.99 < r["r2"] <= 1.0


# ------------------------------------------------ incremental refresh


def test_refresh_aggregate_combines_and_passes_through(spark):
    from decimal import Decimal

    from skrub_spark.operators.cdc import refresh_aggregate

    base = spark.createDataFrame(
        [("a", 2, Decimal("10.00")), ("b", 1, Decimal("5.00"))],
        "g string, n long, s decimal(22,2)",
    )
    delta = spark.createDataFrame(
        [("a", Decimal("3.50")), ("c", Decimal("1.25"))],
        "g string, v decimal(12,2)",
    )
    got = {
        r["g"]: r
        for r in refresh_aggregate(
            base, delta, ["g"], count_col="n", sum_cols={"s": "v"}
        ).collect()
    }
    # existing group combines
    assert got["a"]["n"] == 3 and got["a"]["s"] == Decimal("13.50")
    # base-only group passes through
    assert got["b"]["n"] == 1 and got["b"]["s"] == Decimal("5.00")
    # new group appears from the delta alone
    assert got["c"]["n"] == 1 and got["c"]["s"] == Decimal("1.25")


def test_refresh_aggregate_equals_full_recompute(spark):
    from decimal import Decimal
    import random

    from skrub_spark.operators.cdc import refresh_aggregate
    from pyspark.sql import functions as F

    rng = random.Random(3)
    rows = [
        (rng.choice("xyz"), Decimal(f"{rng.randint(1, 999)}.{rng.randint(0,99):02d}"))
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "g string, v decimal(12,2)")
    full = {
        r["g"]: (r["n"], r["s"])
        for r in df.groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    base_rows = df.limit(120)
    delta_rows = df.subtract(spark.createDataFrame([], df.schema)).exceptAll(base_rows)
    base = base_rows.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("v").alias("s")
    )
    got = {
        r["g"]: (r["n"], r["s"])
        for r in refresh_aggregate(
            base, delta_rows, ["g"], count_col="n", sum_cols={"s": "v"}
        ).collect()
    }
    assert got == full


# ----------------------------------------------------- autocorrelation


def test_autocorrelation_matches_numpy(spark):
    import numpy as np

    from skrub_spark.operators.sequence import autocorrelation

    rng = np.random.default_rng(5)
    y = rng.integers(50, 150, 40)
    rows = [(int(i), int(v)) for i, v in enumerate(y)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        r["lag"]: r
        for r in autocorrelation(df, "x", "y", max_lag=3).collect()
    }
    ybar = y.mean()
    den = ((y - ybar) ** 2).sum()
    for k in (1, 2, 3):
        ref = ((y[:-k] - ybar) * (y[k:] - ybar)).sum() / den
        assert abs(got[k]["acf"] - ref) < 1e-6, k
        assert got[k]["n_pairs"] == 40 - k


def test_autocorrelation_period_two_alternation(spark):
    from skrub_spark.operators.sequence import autocorrelation

    # perfect alternation: acf(1) = -1, acf(2) = +1 (up to n-scaling)
    rows = [(i, 10 if i % 2 == 0 else 20) for i in range(20)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        r["lag"]: r["acf"]
        for r in autocorrelation(df, "x", "y", max_lag=2).collect()
    }
    assert got[1] < -0.9 and got[2] > 0.85


def test_autocorrelation_constant_series_null(spark):
    from skrub_spark.operators.sequence import autocorrelation

    rows = [(i, 7) for i in range(10)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = autocorrelation(df, "x", "y", max_lag=2).collect()
    assert all(r["acf"] is None for r in got)  # zero variance
