"""The shingle-overlap family (``dedup/overlap.py`` and its callers):
``ngram_contamination``, ``decontaminate_train``,
``duplication_density``, ``ngram_novelty`` and the streaming gate
``streaming_decontaminate``."""

from __future__ import annotations

from skrub_spark.dedup.contamination import (
    decontaminate_train,
    ngram_contamination,
)
from skrub_spark.dedup.density import duplication_density, ngram_novelty


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _by_id(df):
    rows = df.collect()
    out = {r["doc_id"]: tuple(r)[1:] for r in rows}
    assert len(out) == len(rows), "one row per document"
    return out


# ---------------------------------------------------------------------------
# contamination / decontamination
# ---------------------------------------------------------------------------


def test_ngram_contamination(spark):
    """Contaminated eval doc (shares a 5-gram run with train) is
    flagged; clean doc scores 0; short doc reports zero shingles;
    boilerplate grams above max_train_doc_freq are ignored."""
    leak = "alpha beta gamma delta epsilon zeta eta theta"
    train = spark.createDataFrame(
        [(1, f"intro words {leak} trailing text here")],
        "doc_id int, text string",
    )
    eval_df = spark.createDataFrame(
        [
            (10, leak),                                   # fully leaked
            (11, "совершенно unrelated fresh tokens only words again more"),
            (12, "too short"),                            # < 5 words
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_contaminated"])
        for r in ngram_contamination(
            train, eval_df, "text", "doc_id", ngram=5
        ).collect()
    }
    assert out[10][0] == 4 and out[10][1] == 4   # all 4 shingles leaked
    assert out[11][1] == 0
    assert out[12] == (0, 0)


def test_decontaminate_train(spark):
    base = " ".join(f"w{i}" for i in range(13))
    train = _docs(
        spark,
        [
            (1, base + " trailing words here"),   # shares a 13-gram -> removed
            (2, "totally different set of words " * 4),
            (3, "short doc"),                      # unshingleable -> survives
        ],
    )
    ev = _docs(spark, [(100, base + " benchmark continuation")])
    out = sorted(
        r["doc_id"] for r in decontaminate_train(train, ev).collect()
    )
    assert out == [2, 3]
    # threshold > 0 lets the partially-overlapping doc back in
    out2 = sorted(
        r["doc_id"]
        for r in decontaminate_train(train, ev, max_contamination=1.0).collect()
    )
    assert out2 == [1, 2, 3]


def test_gram_cap_threads_through_contamination(spark):
    """A megadoc's contamination denominator is the CAPPED distinct
    count — the cap is honest on both sides of the fraction."""
    text = " ".join(f"t{i}" for i in range(50))
    train = _docs(spark, [(1, text)])
    ev = _docs(spark, [(9, text)])
    r = ngram_contamination(
        train, ev, ngram=3, max_grams_per_doc=10
    ).first()
    assert r["n_shingles"] == 10 and r["n_contaminated"] == 10
    assert r["contamination"] == 1.0


def test_decontaminate_semi_join_no_cartesian(spark, sf_dir):
    """Decontamination is inverted-index relational algebra: the
    survivors come back via a semi-join, with no cartesian or
    nested-loop join anywhere."""
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter("source IN ('src0','src1')")
    tr = docs.filter("source NOT IN ('src0','src1')")
    df = decontaminate_train(tr, ev)
    # AQE finalizes the plan only when this DataFrame executes
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# duplication density / novelty
# ---------------------------------------------------------------------------


def test_duplication_density_planted(spark):
    shared = "alpha beta gamma delta"  # 2 distinct 3-shingles
    rows = [
        (1, shared + " one unique tail here"),
        (2, shared + " two other ending words"),
        (3, "totally different text with no overlap at all"),
    ]
    df = _docs(spark, rows)
    got = {
        r["doc_id"]: r
        for r in duplication_density(df, "text", "doc_id").collect()
    }
    # docs 1/2 share exactly the 2 shingles inside `shared`
    assert got[1]["n_dup"] == 2 and got[2]["n_dup"] == 2
    assert got[3]["n_dup"] == 0 and got[3]["dup_fraction"] == 0.0
    assert got[1]["dup_fraction"] == round(2 / got[1]["n_shingles"], 6)


def test_duplication_density_short_doc_zero_row(spark):
    df = _docs(spark, [(1, "only two"), (2, "a b c d")])
    got = {
        r["doc_id"]: r
        for r in duplication_density(df, "text", "doc_id").collect()
    }
    assert got[1]["n_shingles"] == 0 and got[1]["dup_fraction"] is None
    assert got[2]["n_shingles"] == 2


def test_ngram_novelty_fractions(spark):
    ref = _docs(spark, [(100, "alpha beta gamma delta")])
    # doc 1: both shingles inside ref text -> novelty 0
    # doc 2: disjoint vocabulary -> novelty 1
    # doc 3: one of two shingles new -> 0.5; doc 4: too short -> NULL
    tgt = _docs(
        spark,
        [
            (1, "alpha beta gamma delta"),
            (2, "foo bar baz qux"),
            (3, "beta gamma delta epsilon"),
            (4, "hi there"),
        ],
    )
    out = {r["doc_id"]: r for r in ngram_novelty(tgt, ref).collect()}
    assert out[1]["novelty"] == 0.0
    assert out[2]["novelty"] == 1.0
    assert out[3]["n_shingles"] == 2 and out[3]["novelty"] == 0.5
    assert out[4]["n_shingles"] == 0 and out[4]["novelty"] is None


# ---------------------------------------------------------------------------
# edge cases pinned across the four batch operators
# ---------------------------------------------------------------------------

# 3-shingles: "a b c d" -> {abc, bcd}; "a b c e" -> {abc, bce};
# "A B C f" -> {abc, bcf} (shingles are lowercased); the repeated doc
# "a b c a b c a b c" has 7 shingle occurrences but 3 DISTINCT
# shingles {abc, bca, cab}, and counts each once everywhere,
# document frequency included.
_EMPTY = [(1, None), (2, ""), (3, "a b")]  # null, empty, < k words
_SIDE = _EMPTY + [(4, "a b c d"), (5, "a b c e"), (6, "A B C f")]
_PROBE = _EMPTY + [(7, "a b c a b c a b c"), (8, "b c d b c d")]


def test_overlap_edge_cases(spark):
    """Null, empty and too-short text, a document repeating its
    shingles, and the document-frequency filters, through the four
    batch operators: output columns and types, one row per scored
    document, zero-shingle semantics (contamination 0.0; density and
    novelty a NULL fraction with zero counts)."""
    side, probe = _docs(spark, _SIDE), _docs(spark, _PROBE)

    def counts(df, count_col, frac_col):
        assert df.dtypes == [
            ("doc_id", "bigint"),
            ("n_shingles", "bigint"),
            (count_col, "bigint"),
            (frac_col, "double"),
        ]
        return _by_id(df)

    def contamination(**kw):
        out = ngram_contamination(side, probe, ngram=3, **kw)
        return counts(out, "n_contaminated", "contamination")

    zero = (0, 0, 0.0)
    assert contamination() == {
        1: zero, 2: zero, 3: zero,
        7: (3, 1, 1 / 3),  # abc leaked, bca/cab not
        8: (3, 1, 1 / 3),  # bcd leaked
    }
    # abc sits in 3 side docs: the skew guard at 2 drops it
    assert contamination(max_train_doc_freq=2) == {
        1: zero, 2: zero, 3: zero, 7: (3, 0, 0.0), 8: (3, 1, 1 / 3),
    }

    def kept(**kw):
        out = decontaminate_train(probe, side, ngram=3, **kw)
        assert out.columns == ["doc_id", "text"]
        return sorted(r["doc_id"] for r in out.collect())

    # shingle-less train docs always survive
    assert kept() == [1, 2, 3]
    assert kept(max_eval_doc_freq=2) == [1, 2, 3, 7]
    assert kept(max_contamination=0.5) == [1, 2, 3, 7, 8]

    none = (0, 0, None)
    novelty = ngram_novelty(probe, side, k=3)
    assert counts(novelty, "n_novel", "novelty") == {
        1: none, 2: none, 3: none,
        7: (3, 2, 0.666667),  # bca, cab are new
        8: (3, 2, 0.666667),  # cdb, dbc are new
    }
    # the reference needs no id column
    assert _by_id(ngram_novelty(probe, side.select("text"), k=3)) == (
        _by_id(novelty)
    )

    docs = _docs(spark, _SIDE + [_PROBE[3]])

    def density(min_docs):
        out = duplication_density(docs, k=3, min_docs=min_docs)
        return counts(out, "n_dup", "dup_fraction")

    # abc is in docs 4, 5, 6 and 7; every other shingle in one doc
    assert density(2) == {
        1: none, 2: none, 3: none,
        4: (2, 1, 0.5), 5: (2, 1, 0.5), 6: (2, 1, 0.5),
        7: (3, 1, 0.333333),
    }
    assert density(1)[7] == (3, 3, 1.0)
    assert density(5) == {
        1: none, 2: none, 3: none,
        4: (2, 0, 0.0), 5: (2, 0, 0.0), 6: (2, 0, 0.0), 7: (3, 0, 0.0),
    }


# ---------------------------------------------------------------------------
# streaming decontamination gate
# ---------------------------------------------------------------------------


def _run_decon_stream(spark, tmp_path, docs_rows, eval_rows, *, ngram=3):
    """docs_rows: (doc_id, text); batch 0 = even ids, batch 1 = odd.
    Returns {doc_id: (kind, n_shingles, n_contaminated, batch_id)}."""
    import glob
    import os as _os
    import shutil
    import uuid

    from skrub_spark.streaming.ops import streaming_decontaminate

    df = _docs(spark, docs_rows)
    ev = _docs(spark, eval_rows)
    tag = uuid.uuid4().hex[:6]
    src = str(tmp_path / f"src_{tag}")
    _os.makedirs(src)
    for i, part in enumerate(
        (df.filter("doc_id % 2 = 0"), df.filter("doc_id % 2 = 1"))
    ):
        d = src + f"_w{i}"
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = _os.path.join(src, f"b{i}.parquet")
        shutil.copyfile(
            glob.glob(_os.path.join(d, "part-*.parquet"))[0], dst
        )
        _os.utime(dst, (1_700_000_000 + i * 60,) * 2)
        shutil.rmtree(d)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / f"out_{tag}")
    q = streaming_decontaminate(
        stream,
        ev.select("text"),  # the eval side needs no id column
        "text",
        "doc_id",
        ngram=ngram,
        out_path=out,
        checkpoint_path=str(tmp_path / f"ck_{tag}"),
    )
    assert q.awaitTermination(300)
    n_batches = sum(1 for p in q.recentProgress if p.numInputRows > 0)
    assert n_batches >= 2, n_batches
    return {
        r["doc_id"]: (
            r["kind"],
            r["n_shingles"],
            r["n_contaminated"],
            r["batch_id"],
        )
        for r in spark.read.parquet(out).collect()
    }


def test_streaming_decon_quarantines_overlap(spark, tmp_path):
    docs = [
        (0, "alpha beta gamma delta epsilon"),  # shares eval 3-grams
        (1, "one two three four five"),  # clean
        (2, "zz yy xx ww vv"),  # clean
        (3, "alpha beta gamma other words"),  # shares one 3-gram
    ]
    ev = [(100, "alpha beta gamma delta")]
    got = _run_decon_stream(spark, tmp_path, docs, ev)
    assert got[0][0] == "quarantine" and got[0][2] == 2
    assert got[1][0] == "clean" and got[1][2] == 0
    assert got[2][0] == "clean"
    assert got[3][0] == "quarantine" and got[3][2] == 1
    # batch split recorded: even ids batch 0, odd batch 1
    assert got[0][3] == 0 and got[1][3] == 1


def test_streaming_decon_no_hit_equals_passthrough(spark, tmp_path):
    """Zero-overlap stream: every doc must come back clean with the
    same id set — the gate must never drop or mutate rows."""
    docs = [(i, f"w{i}a w{i}b w{i}c w{i}d") for i in range(20)]
    ev = [(900, "completely different eval text here")]
    got = _run_decon_stream(spark, tmp_path, docs, ev)
    assert set(got) == set(range(20))
    assert all(v[0] == "clean" and v[2] == 0 for v in got.values())


def test_streaming_decon_matches_batch_operator(spark, tmp_path):
    """The streaming gate's keep set must equal decontaminate_train
    on the same rows (stateless across batches by construction)."""
    docs = [
        (i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} tok{i+4}")
        for i in range(30)
    ]
    ev = [(901, "tok10 tok11 tok12 tok13"), (902, "tok25 tok26 tok27")]
    got = _run_decon_stream(spark, tmp_path, docs, ev)
    stream_clean = {k for k, v in got.items() if v[0] == "clean"}
    batch_keep = {
        r["doc_id"]
        for r in decontaminate_train(
            _docs(spark, docs), _docs(spark, ev), "text", "doc_id", ngram=3
        ).collect()
    }
    assert stream_clean == batch_keep
