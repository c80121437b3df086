"""Unit tests for JVM-side expression builders (functions/)."""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from skrub_spark.functions.datetime import datetime_feature_columns
from skrub_spark.functions.hashing import (
    NULL_KEY,
    h60,
    h60_sql,
    hamming64,
    hash_bucket,
    minhash_band_keys,
    minhash_from_grams,
    minhash_signature,
    null_safe,
    simhash64,
)
from skrub_spark.functions.text import (
    char_ngrams,
    language_id,
    lines,
    quality_columns,
    rolling_fingerprint,
    tokens,
    word_shingles,
    words_az09,
)
from skrub_spark.functions.vector import cosine_similarity, vector_literal


def test_tokens_and_ngrams(spark):
    df = spark.createDataFrame(
        [(1, "  hello  world "), (2, "ab"), (3, "")], "id int, t string"
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            tokens("t").alias("toks"),
            char_ngrams("t", 3, lowercase=False).alias("ng"),
            word_shingles("t", 2, lowercase=False).alias("sh"),
        ).collect()
    }
    assert rows[1]["toks"] == ["hello", "world"]
    assert rows[1]["sh"] == ["hello world"]
    assert rows[2]["toks"] == ["ab"]
    assert rows[2]["ng"] == []  # shorter than n
    assert rows[3]["toks"] == []
    assert rows[3]["sh"] == []


_JAVA_WS = r"[ \t\n\x0b\f\r]+"  # Java regex \s


def _tokens_ref(s):
    return None if s is None else [t for t in re.split(_JAVA_WS, s) if t]


def _shingles_ref(items, k, sep):
    if len(items) < k:
        return []
    return [sep.join(items[i:i + k]) for i in range(len(items) - k + 1)]


_TEXT_CASES = [
    None,
    "",
    "   ",
    " \t\n ",
    "a",
    "  hello   world  again ",
    "one two  three   four",
    "Ünïcödé CAFÉ naïve Жук 日本語",
    "line one \n\n  Line Two\t\n line one\r\n x-y_z 42b",
]


def test_text_helpers_match_python_reference(spark):
    """tokens, word_shingles (k = 2, 3), char_ngrams, lines and
    words_az09 against Python references on null, empty,
    whitespace-only, multi-space and unicode strings. A null string
    gives null for every helper; a string with too few tokens or
    characters gives empty shingle and n-gram arrays."""
    df = spark.createDataFrame(list(enumerate(_TEXT_CASES)), "id int, t string")
    cols = {
        "toks": tokens("t"),
        "sh2": word_shingles("t", 2),
        "sh3": word_shingles("t", 3),
        "ng3": char_ngrams("t", 3),
        "lines": lines("t"),
        "az09": words_az09("t"),
    }
    got = {
        r["id"]: r.asDict()
        for r in df.select("id", *[c.alias(k) for k, c in cols.items()]).collect()
    }
    for i, s in enumerate(_TEXT_CASES):
        low = None if s is None else s.lower()
        want = {
            "toks": _tokens_ref(s),
            "sh2": None if s is None else _shingles_ref(_tokens_ref(low), 2, " "),
            "sh3": None if s is None else _shingles_ref(_tokens_ref(low), 3, " "),
            "ng3": None if s is None else _shingles_ref(list(low), 3, ""),
            "lines": None if s is None else [
                ln.strip(" ") for ln in s.split("\n") if ln.strip(" ")
            ],
            "az09": None if s is None else [
                t for t in re.split("[^a-z0-9]+", low) if t
            ],
        }
        for k, v in want.items():
            assert got[i][k] == v, (s, k, got[i][k], v)


def test_char_ngrams_content(spark):
    df = spark.createDataFrame([("abcd",)], "t string")
    out = df.select(char_ngrams("t", 2).alias("g")).first()["g"]
    assert out == ["ab", "bc", "cd"]


def test_quality_columns(spark):
    df = spark.createDataFrame([("The cat, 42 times!",)], "t string")
    q = quality_columns(F.col("t"))
    r = df.select(*[v.alias(k) for k, v in q.items()]).first()
    assert r["n_chars"] == 18
    assert r["n_tokens"] == 4
    assert 0 < r["alpha_ratio"] < 1
    assert r["digit_ratio"] == 2 / 18
    assert r["stopword_ratio"] == 0.25  # "The"


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is one of the animals with fur"),
            (2, "der hund ist nicht und der die das"),
            (3, "le chat et la maison les arbres est"),
            (4, "el perro que los gatos una casa"),
        ],
        "id int, t string",
    )
    rows = {r["id"]: r["lang"] for r in df.select("id", language_id("t").alias("lang")).collect()}
    assert rows == {1: "en", 2: "de", 3: "fr", 4: "es"}


def test_minhash_properties(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely unrelated text"),
        ],
        "id int, t string",
    )
    out = df.select(
        "id", minhash_signature(F.col("t"), 16).alias("sig")
    ).collect()
    sigs = {r["id"]: r["sig"] for r in out}
    assert len(sigs[1]) == 16
    # distinct hash seeds -> components not all equal
    assert len(set(sigs[1])) > 1
    # similar strings share more components than dissimilar ones
    sim12 = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    sim13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert sim12 > sim13
    # deterministic
    out2 = {r["id"]: r["sig"] for r in df.select("id", minhash_signature(F.col("t"), 16).alias("sig")).collect()}
    assert out2 == sigs


def _md5_minhash_ref(grams, n):
    """Pure-Python double hashing over one md5 per gram:
    h_k = (h1 + k*h2) mod 2^31-1, h1/h2 the hex digits 1-15 and 16-30."""
    p = (1 << 31) - 1
    sig = [p] * n
    for g in grams:
        m = hashlib.md5(g.encode()).hexdigest()
        h1, h2 = int(m[:15], 16) % p, int(m[15:30], 16) % p
        sig = [min(s, (h1 + k * h2) % p) for k, s in enumerate(sig)]
    return sig


def test_minhash_from_grams_matches_md5_reference(spark):
    grams = [
        ["ab", "bc", "cd"],
        ["hé", "éllo", "日本", "本語"],
        ["x"] * 5 + ["yz"],
        [],
        None,
    ]
    df = spark.createDataFrame(list(enumerate(grams)), "id int, g array<string>")
    for n in (1, 16):
        got = dict(
            df.select("id", minhash_from_grams(F.col("g"), n).alias("s")).collect()
        )
        for i, g in enumerate(grams):
            assert got[i] == (None if g is None else _md5_minhash_ref(g, n))
    assert got[3] == [(1 << 31) - 1] * 16
    assert got[4] is None


def _h60_ref(salt, x):
    return int(hashlib.md5((salt + x).encode()).hexdigest()[:15], 16)


def test_h60_matches_md5_reference(spark):
    """The Column and SQL forms of the hash rule against a hashlib
    replay of the first 15 hex digits of md5(salt + x), on null, empty
    and non-ASCII values and a salt with a quote and a backslash; no
    salt hashes x itself. A NULL key through the sentinel, and so
    through hash_bucket, hashes like the string "\\x00<null>"."""
    assert NULL_KEY == "\x00<null>"
    cases = [None, "", "a", "hello world", "Ünïcödé CAFÉ 日本語", NULL_KEY]
    df = spark.createDataFrame(list(enumerate(cases)), "id int, x string")
    for salt in (None, "", "qc1|", "it's a \\ salt'"):
        ref = salt or ""
        rows = df.select(
            "id",
            h60("x", salt).alias("col"),
            F.expr(h60_sql("x", salt)).alias("sql"),
            h60(null_safe(F.col("x")), salt).alias("safe"),
            hash_bucket(F.col("x"), ref, 97).alias("bucket"),
        ).collect()
        for r in rows:
            x = cases[r["id"]]
            want = None if x is None else _h60_ref(ref, x)
            assert r["col"] == want and r["sql"] == want
            safe = _h60_ref(ref, NULL_KEY if x is None else x)
            assert r["safe"] == safe and r["bucket"] == safe % 97


def test_minhash_band_keys(spark):
    df = spark.createDataFrame([(1, "a b c d e f g")], "id int, t string")
    grams = word_shingles(F.col("t"), 2)
    r = df.select(minhash_band_keys(grams, 4, 2).alias("b")).first()["b"]
    assert len(r) == 4
    assert len(set(r)) > 1


def test_simhash(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "unrelated totally different content goes right here ok"),
        ],
        "id int, t string",
    )
    sims = {
        r["id"]: r["s"] for r in df.select("id", simhash64(F.col("t")).alias("s")).collect()
    }
    d12 = bin((sims[1] ^ sims[2]) & ((1 << 64) - 1)).count("1")
    d13 = bin((sims[1] ^ sims[3]) & ((1 << 64) - 1)).count("1")
    assert d12 < d13
    # hamming expression agrees with python
    df2 = spark.createDataFrame([(sims[1], sims[2])], "a long, b long")
    assert df2.select(hamming64(F.col("a"), F.col("b")).alias("h")).first()["h"] == d12


def test_rolling_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "e d c b a")],
        "id int, t string",
    )
    fps = {
        r["id"]: r["fp"]
        for r in df.select("id", rolling_fingerprint("t", 2).alias("fp")).collect()
    }
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]  # order-sensitive


def test_cosine(spark):
    df = spark.createDataFrame([(1, [3.0, 4.0])], "id int, v array<double>")
    r = df.select(
        cosine_similarity("v", vector_literal([3.0, 4.0])).alias("c1"),
        cosine_similarity("v", vector_literal([-4.0, 3.0])).alias("c2"),
    ).first()
    assert abs(r["c1"] - 1.0) < 1e-12
    assert abs(r["c2"]) < 1e-12


def test_datetime_features(spark):
    df = spark.createDataFrame([("2026-03-02 10:30:15",)], "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    cols = datetime_feature_columns(
        "ts", "ts", resolution="second", add_weekday=True, add_day_of_year=True
    )
    r = df.select(*[v.alias(k) for k, v in cols.items()]).first()
    assert (r["ts_year"], r["ts_month"], r["ts_day"]) == (2026, 3, 2)
    assert (r["ts_hour"], r["ts_minute"], r["ts_second"]) == (10, 30, 15)
    assert r["ts_weekday"] == 1  # Monday
    assert r["ts_day_of_year"] == 61


def test_datetime_spline_encoding(spark):
    df = spark.createDataFrame([("2026-06-15 12:00:00",)], "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    cols = datetime_feature_columns(
        "ts", "ts", resolution="hour", add_weekday=True, periodic="spline"
    )
    r = df.select(*[v.alias(k) for k, v in cols.items()]).first()
    spline_cols = [k for k in cols if "_spline_" in k]
    assert len(spline_cols) >= 16  # month/day/hour 6 each? + weekday 4
    # basis is a partition-of-unity-ish triangular system: values in [0,1]
    vals = [r[k] for k in spline_cols]
    assert all(0.0 <= v <= 1.0 for v in vals)
    # hour=12 with 6 splines over 24 -> knot at 12 has activation 1
    assert r["ts_hour_spline_03"] == 1.0


def test_repetition_filter_planted(spark):
    """Gopher-style repetition signals on planted documents: a
    boilerplate-heavy doc (repeated lines + dominant word) is
    rejected; normal prose passes."""
    from skrub_spark.operators.repetition import repetition_filter

    spam = "buy now\n" * 8 + "limited offer today\n"
    prose = "the quick brown fox\njumps over a lazy dog\nand runs away\n"
    df = spark.createDataFrame(
        [(1, spam), (2, prose), (3, "")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in repetition_filter(df).collect()}
    assert out[1]["n_lines"] == 9
    assert abs(out[1]["dup_line_frac"] - (1 - 2 / 9)) < 1e-12
    assert out[1]["top_word_frac"] > 0.2  # 'buy'/'now' dominate
    assert not out[1]["keep"]
    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["keep"]
    assert out[3]["n_lines"] == 0 and out[3]["n_words"] == 0
    assert out[3]["keep"]  # empty doc: all fractions 0


def test_redact_pii(spark):
    from pyspark.sql import functions as F

    from skrub_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+spam@sub.example.co.uk please"),
            (2, "server at 192.168.0.17 went down"),
            (3, "call +44 20 7946-0958 now"),
            (4, "no pii here, just v1.2 and 42"),
        ],
        "id int, text string",
    )
    out = {r["id"]: r["red"] for r in df.select(
        "id", redact_pii(F.col("text")).alias("red")
    ).collect()}
    assert out[1] == "mail me at <EMAIL> please"
    assert out[2] == "server at <IP> went down"
    assert out[3] == "call <PHONE> now"
    assert out[4] == "no pii here, just v1.2 and 42"
