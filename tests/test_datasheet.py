"""Corpus datasheet: ``report/datasheet.py``."""

from __future__ import annotations

from skrub_spark import release


def test_corpus_datasheet_sections_and_values(spark, sf_dir):
    from skrub_spark.report.datasheet import corpus_datasheet
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = corpus_datasheet(docs).collect()
    by = {(r["section"], r["metric"]): r["value"] for r in rows}
    n = by[("corpus", "n_docs")]
    assert n == docs.count()
    # shares sum to ~1 per mix section
    for sec in ("lang_mix", "source_mix"):
        s = sum(v for (se, _), v in by.items() if se == sec)
        assert abs(s - 1.0) < 1e-3
    # histogram counts sum to n_docs
    s = sum(v for (se, _), v in by.items() if se == "len_hist")
    assert s == n
    assert 0.0 <= by[("dedup", "exact_dup_rate")] <= 1.0
    assert 0.0 <= by[("contamination", "contaminated_rate")] <= 1.0
    assert by[("drift", "psi_length")] is not None
    assert by[("drift", "chi2_lang")] >= 0.0


def test_corpus_datasheet_html_smoke(spark, sf_dir):
    from skrub_spark.report.datasheet import (
        corpus_datasheet, datasheet_html,
    )
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = corpus_datasheet(docs).collect()
    html = datasheet_html(rows, title="sf docs datasheet")
    assert html.startswith("<!doctype html>")
    for frag in (
        "<h1>sf docs datasheet</h1>",
        "<h2>corpus</h2>",
        "<h2>drift</h2>",
        "n_docs",
        "exact_dup_rate",
        "</html>",
    ):
        assert frag in html


# one doc per case: ids 1, 2, 97 (the eval split) and 4 and a NULL
# id; one NULL lang and one NULL source; docs 1 and 2 share a text
# that contains the eval doc's only word 8-gram
_DUP_TEXT = "we saw that the quick brown fox jumps over the lazy dog"
_HAND_CORPUS = [
    (1, "de", "web", _DUP_TEXT),
    (2, "en", "web", _DUP_TEXT),
    (97, "de", "books", "the quick brown fox jumps over the lazy dog"),
    (4, "en", None, "a short unrelated note"),
    (
        None,
        None,
        "books",
        "something else entirely different here with many more words "
        "than any other text",
    ),
]


def test_corpus_datasheet_hand_corpus_pinned(spark):
    from skrub_spark.report.datasheet import corpus_datasheet

    df = spark.createDataFrame(
        _HAND_CORPUS, "doc_id long, lang string, source string, text string"
    )
    got = sorted(tuple(r) for r in corpus_datasheet(df).collect())
    assert got == [
        ("contamination", "contaminated_rate", 0.666667),
        ("contamination", "n_eval_docs", 1.0),
        ("contamination", "n_train_docs", 3.0),
        ("corpus", "avg_chars", 50.8),
        ("corpus", "n_docs", 5.0),
        ("corpus", "n_langs", 2.0),
        ("corpus", "n_sources", 2.0),
        ("corpus", "n_tokens", 50.0),
        ("corpus", "total_chars", 254.0),
        ("dedup", "exact_dup_rate", 0.2),
        ("drift", "chi2_lang", 4.0),
        ("drift", "psi_length", 0.31389),
        ("lang_mix", "<null>", 0.2),
        ("lang_mix", "de", 0.4),
        ("lang_mix", "en", 0.4),
        ("len_hist", "bin_2", 1.0),
        ("len_hist", "bin_5", 1.0),
        ("len_hist", "bin_6", 2.0),
        ("len_hist", "bin_9", 1.0),
        ("source_mix", "<null>", 0.2),
        ("source_mix", "books", 0.4),
        ("source_mix", "web", 0.4),
    ]


def test_corpus_datasheet_empty_corpus(spark):
    """A zero-row corpus gives its rows instead of dividing by n = 0:
    the ratios read 0 (or null where their numerator is a null sum),
    the mixes and the histogram have no rows."""
    from skrub_spark.report.datasheet import corpus_datasheet

    df = spark.createDataFrame(
        [], "doc_id long, lang string, source string, text string"
    )
    got = sorted(tuple(r) for r in corpus_datasheet(df).collect())
    release(spark)
    assert got == [
        ("contamination", "contaminated_rate", 0.0),
        ("contamination", "n_eval_docs", None),
        ("contamination", "n_train_docs", None),
        ("corpus", "avg_chars", None),
        ("corpus", "n_docs", 0.0),
        ("corpus", "n_langs", 0.0),
        ("corpus", "n_sources", 0.0),
        ("corpus", "n_tokens", None),
        ("corpus", "total_chars", None),
        ("dedup", "exact_dup_rate", 0.0),
        ("drift", "chi2_lang", None),
        ("drift", "psi_length", None),
    ]


def test_corpus_datasheet_job_count(spark, sf_dir, count_jobs):
    """The sections share two persisted aggregates; an extra action or
    aggregate branch adds jobs and fails this pin."""
    from skrub_spark.report.datasheet import corpus_datasheet
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus_datasheet(docs).collect()
    release(spark)  # the warm call must rebuild the persisted frames
    _, jobs = count_jobs("datasheet", lambda: corpus_datasheet(docs).collect())
    release(spark)
    assert jobs <= 25
