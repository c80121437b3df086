"""Text-analysis column expressions — all JVM-side (no Python UDFs).

Capability parity targets (reference, for behavior only):
  - token/ngram machinery: skrub/_string_distances.py (get_ngrams,
    get_unique_ngrams) — reimplemented as Catalyst expressions.
  - text quality / language-id / fingerprinting are beyond-reference
    LLM-pipeline operators (SURVEY.md §2).

Everything returns a ``pyspark.sql.Column`` so callers compose these
inside select/filter and whole-stage codegen fuses them.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_WS = r"\s+"


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal, escaped for the parser."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


# The higher-order-function lambdas below are parsed SQL
# (``F.expr("t -> ...")``): a Python lambda builds its body one py4j
# call per Column node, a parsed one costs a single call.
_NONEMPTY = "t -> t != ''"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens, empty strings removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.call_function(
        "filter", F.split(F.trim(c), _WS), F.expr(_NONEMPTY)
    )


def _shifted_shingles(items: Column, k: int, sep: str) -> Column:
    """k-grams over an array via zip_with of k shifted slices.

    The naive ``transform(sequence(...), i -> f(items, i))`` form
    re-evaluates the ``items`` subexpression PER ELEMENT (O(n²) per
    row when items is a split()); shifted slices evaluate it k times
    per row and the zip_with lambdas touch only elements. A null
    ``items`` gives null; one shorter than ``k`` gives ``[]``."""
    n = F.size(items)
    width = n - (k - 1)
    out = F.slice(items, 1, width)
    join = F.expr(
        f"(a, b) -> concat(a, {sql_string(sep)}, b)" if sep
        else "(a, b) -> concat(a, b)"
    )
    for j in range(1, k):
        out = F.call_function(
            "zip_with", out, F.slice(items, j + 1, width), join
        )
    return F.when(n >= k, out).when(
        items.isNotNull(), F.array().cast("array<string>")
    )


# Per-document gram budget (r9, VERDICT r8 #4): at crawl scale a
# single pathological 100 MB document would otherwise explode
# millions of gram rows inside ONE task across the dedup /
# contamination / novelty family — a megadoc cap is standard
# (Gopher/CCNet truncate documents before shingling). 50k distinct
# shingles ≈ a 250 KB+ document at k=3; the benchmark corpora sit
# orders of magnitude below it, so default-capped results are
# byte-identical to uncapped ones there (pinned by the unchanged
# oracles + tests/test_r9_ops.py).
MAX_GRAMS_PER_DOC = 50_000


def distinct_shingles(
    grams: Column, max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC
) -> Column:
    """Distinct grams with the per-document budget applied: slice
    AFTER ``array_distinct`` (which preserves first-occurrence
    order), so the kept prefix is a deterministic function of the
    document bytes — independent of partitioning. ``None``
    disables the cap."""
    out = F.array_distinct(grams)
    if max_grams_per_doc is not None:
        out = F.slice(out, 1, int(max_grams_per_doc))
    return out


def char_ngrams(col: Column | str, n: int, lowercase: bool = True) -> Column:
    """Character n-grams as array<string> — JVM-side, linear-time."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    chars = F.call_function("filter", F.split(c, ""), F.expr(_NONEMPTY))
    return _shifted_shingles(chars, n, "")


def word_shingles(col: Column | str, k: int = 3, lowercase: bool = True) -> Column:
    """k-word shingles (space-joined) as array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return _shifted_shingles(tokens(c), k, " ")


def quality_columns(col: Column | str) -> dict[str, Column]:
    """Quality-scoring features for an LLM-data pipeline:
    length, token stats, alpha/digit/punct/space ratios, stopword
    ratio, mean token length."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    toks = tokens(c)
    n_tokens = F.size(toks)
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    digit = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    space = F.length(F.regexp_replace(c, r"[^ \t\n]", ""))
    punct = n_chars - alpha - digit - space
    nz = F.greatest(n_chars, F.lit(1)).cast("double")
    stop = F.size(
        F.filter(
            toks,
            lambda t: F.lower(t).isin(
                "the", "a", "an", "and", "or", "of", "to", "in", "is", "it"
            ),
        )
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "alpha_ratio": (alpha / nz).cast("double"),
        "digit_ratio": (digit / nz).cast("double"),
        "punct_ratio": (punct / nz).cast("double"),
        "stopword_ratio": (
            stop / F.greatest(n_tokens, F.lit(1)).cast("double")
        ).cast("double"),
        "mean_token_len": (
            F.aggregate(
                toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
            )
            / F.greatest(n_tokens, F.lit(1)).cast("double")
        ).cast("double"),
    }


# Tiny per-language marker sets for the n-gram/stopword language-ID
# heuristic. Deliberately small: language ID at corpus scale is a
# scoring pass, and each marker test is one JVM `array_contains`.
_LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "with"),
    "de": ("der", "die", "und", "nicht", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "la", "que", "los", "una"),
    "zh": (),  # detected via CJK codepoint ratio below
}


def readability_columns(col: Column | str) -> dict[str, Column]:
    """Flesch reading-ease / Flesch–Kincaid grade columns (r8 late —
    the curation-quality signal FineWeb-class pipelines log beside
    stopword/punct ratios): ``n_words``, ``n_sentences`` (runs of
    ``[.!?]`` — never below 1), ``n_syllables`` (per-word vowel-group
    count, floored at 1 per word — the standard cheap proxy), and
    the two 6dp-rounded scores.

    All JVM-side Column arithmetic over exact integer counts with a
    fixed operand order, so both scores replay bit-identically in
    SQL (battery oracle ``readability``). Empty/whitespace-only
    text yields NULL scores rather than a division by zero.
    """
    c = F.col(col) if isinstance(col, str) else col
    tk = tokens(c)
    n_words = F.size(tk).cast("long")
    n_sent = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(c, F.lit(r"[.!?]+")).cast("long"),
    )
    n_syll = F.aggregate(
        tk,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.lit(1).cast("long"),
            F.regexp_count(F.lower(w), F.lit("[aeiouy]+")).cast("long"),
        ),
    )
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = n_syll.cast("double") / n_words.cast("double")
    nonempty = n_words > F.lit(0)
    flesch = F.when(
        nonempty,
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ),
    )
    fk_grade = F.when(
        nonempty,
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ),
    )
    return {
        "n_words": n_words,
        "n_sentences": n_sent,
        "n_syllables": F.when(nonempty, n_syll).otherwise(
            F.lit(0).cast("long")
        ),
        "flesch": flesch,
        "fk_grade": fk_grade,
    }


def language_id(col: Column | str) -> Column:
    """Heuristic language ID: CJK codepoint ratio → 'zh'; otherwise the
    language whose stopword markers appear most often; tie → 'en'."""
    c = F.col(col) if isinstance(col, str) else col
    cjk = F.length(F.regexp_replace(c, r"[^一-鿿]", ""))
    toks = F.transform(tokens(c), lambda t: F.lower(t))
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        if not markers:
            continue
        score = F.size(F.filter(toks, lambda t: t.isin(*markers)))
        scores.append((lang, score))
    # argmax with deterministic tie-break by list order (en first)
    best = F.lit("en")
    best_score = F.lit(-1)
    for lang, score in scores:
        cond = score > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, score).otherwise(best_score)
    return F.when(cjk * 4 > F.length(c), F.lit("zh")).otherwise(best)


def rolling_fingerprint(
    col: Column | str,
    k: int = 8,
    mod: int = (1 << 31) - 1,
) -> Column:
    """Document fingerprint: polynomial rolling hash over k-word
    shingle hashes, order-sensitive (Rabin-Karp style), as bigint.

    fp = fold(acc * B + hash(shingle_i)) mod p with p = 2^31-1 so the
    intermediate product stays well inside a 64-bit long under ANSI
    arithmetic (acc < 2^31, B < 2^20 → product < 2^51).

    The shingle hash is its 60-bit md5 hash (``functions.hashing.h60``)
    — md5 is bit-identical across engines, so the fingerprint is
    reproducible outside Spark (the DuckDB oracle replays it exactly).
    """
    from .hashing import h60

    sh = word_shingles(col, k)
    B = F.lit(1000003)
    hashed = F.transform(sh, lambda s: F.pmod(h60(s), F.lit(mod)))
    return F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, hv: F.pmod(acc * B + hv, F.lit(mod)),
    ).cast("long")


def lines(col: Column | str) -> Column:
    """Non-empty trimmed lines as array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.call_function(
        "filter",
        F.call_function("transform", F.split(c, r"\n"), F.expr("t -> trim(t)")),
        F.expr(_NONEMPTY),
    )


_AZ09_SPLIT = r"[^a-z0-9]+"


def words_az09(col: Column | str) -> Column:
    """Lowercased [a-z0-9]+ word tokens as array<string> — the split
    regex is RE2-compatible so a DuckDB oracle can replay it
    exactly. The one word tokenizer of the lexical operators (BM25,
    phrase search, gazetteer, keywords, collocations)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.call_function(
        "filter", F.split(F.lower(c), _AZ09_SPLIT), F.expr(_NONEMPTY)
    )


def words_az09_py(s: str) -> list[str]:
    """:func:`words_az09` on the driver, for query strings and
    dictionary entries."""
    return [t for t in re.split(_AZ09_SPLIT, s.lower()) if t]


_PII_PATTERNS = (
    # order matters: emails first (their local parts contain dots and
    # digits an IP/phone pattern could partially claim)
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d \-]{6,}\d", "<PHONE>"),
)


def redact_pii(col: Column | str) -> Column:
    """Scrub emails / IPv4 addresses / phone-shaped digit runs to
    typed placeholder tokens — the standard pre-training privacy
    pass, as a pure Catalyst regexp_replace chain (beyond-reference
    LLM-pipeline operator, SURVEY.md §2). Patterns are deliberately
    RE2-compatible, so the DuckDB oracle replays them bit-exactly."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in _PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def kwic_snippets(
    docs,
    term: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 3,
):
    """Keyword-in-context extraction — the snippet half of the
    search stack (`operators/bm25.py` ranks documents; this shows
    WHY each hit matched): one row per occurrence of ``term``
    (case-insensitive whole token) — ``(id, pos, snippet)`` with
    ``pos`` the 1-based token position and ``snippet`` the
    space-joined ±``window`` token context.

    Map-only Column algebra end-to-end: tokenize, positions of the
    term as a filtered index array (one interpreted HOF pass over
    the token array — arrays are doc-bounded, not corpus-bounded),
    explode, slice. Exact strings, so the DuckDB oracle replays
    byte-identically (battery query ``kwic_snippets``).
    """
    t = term.lower()
    w = int(window)
    toks = tokens(F.lower(F.col(text_col)))
    base = docs.select(F.col(id_col), toks.alias("__toks"))
    idx = F.filter(
        F.transform(F.col("__toks"), lambda x, i: i + 1),
        lambda p: F.element_at(F.col("__toks"), p) == t,
    )
    hits = base.select(
        id_col, "__toks", F.explode(idx).alias("pos")
    )
    start = F.greatest(F.col("pos") - w, F.lit(1))
    length = (
        F.least(
            F.col("pos") + w, F.size(F.col("__toks"))
        )
        - start
        + 1
    )
    return hits.select(
        id_col,
        F.col("pos").cast("int").alias("pos"),
        F.array_join(
            F.slice(F.col("__toks"), start, length), " "
        ).alias("snippet"),
    )


# Unicode script ranges (BMP only — every major writing system's
# core block; surrogate-pair ranges would need different regex
# machinery per engine). The same table generates the Spark Columns
# AND the DuckDB oracle (queries._script_oracle), so they can't
# drift. Each pattern parses identically in Java regex and RE2.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-z\\x{00C0}-\\x{024F}",
    "cyrillic": "\\x{0400}-\\x{04FF}",
    "greek": "\\x{0370}-\\x{03FF}",
    "arabic": "\\x{0600}-\\x{06FF}",
    "devanagari": "\\x{0900}-\\x{097F}",
    "han": "\\x{4E00}-\\x{9FFF}\\x{3400}-\\x{4DBF}",
    "kana": "\\x{3040}-\\x{30FF}",
    "hangul": "\\x{AC00}-\\x{D7AF}\\x{1100}-\\x{11FF}",
}


def script_counts(col: Column | str) -> dict[str, Column]:
    """Per-script character counts (r9 — the script-level companion
    to language ID: script is a hard signal the trigram model can
    exploit but reports can't read off a prediction). One
    ``length - length(regexp_replace(...))`` pair per script —
    map-only, codegen'd, no explode."""
    c = F.col(col) if isinstance(col, str) else col
    out: dict[str, Column] = {}
    for name, ranges in SCRIPT_RANGES.items():
        out[f"n_{name}"] = (
            F.coalesce(F.length(c), F.lit(0))
            - F.coalesce(
                F.length(F.regexp_replace(c, f"[{ranges}]", "")),
                F.lit(0),
            )
        ).cast("long")
    return out


def script_profile(col: Column | str) -> list[Column]:
    """``script_counts`` plus the derived report columns:
    ``n_script`` (total lettered chars), ``main_script`` (argmax,
    first-in-table-order on ties, 'none' when no script chars) and
    ``main_ratio`` (6dp share of lettered chars)."""
    counts = script_counts(col)
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    names = list(SCRIPT_RANGES)
    best_name = F.lit(names[0])
    best_n = counts[f"n_{names[0]}"]
    for name in names[1:]:
        cond = counts[f"n_{name}"] > best_n
        best_name = F.when(cond, F.lit(name)).otherwise(best_name)
        best_n = F.when(cond, counts[f"n_{name}"]).otherwise(best_n)
    main = F.when(F.coalesce(total, F.lit(0)) > 0, best_name).otherwise(
        F.lit("none")
    )
    ratio = F.when(
        F.coalesce(total, F.lit(0)) > 0,
        F.round(best_n.cast("double") / total.cast("double"), 6),
    )
    return [
        *[expr.alias(name) for name, expr in counts.items()],
        F.coalesce(total, F.lit(0)).cast("long").alias("n_script"),
        main.alias("main_script"),
        ratio.alias("main_ratio"),
    ]


# Entity patterns for structured-signal counting — deliberately
# RE2-compatible (the _PII_PATTERNS discipline) so the battery
# oracle replays each count with the same regex. Shared by the
# Spark Columns AND queries._entity_oracle.
ENTITY_PATTERNS: dict[str, str] = {
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "urls": r"https?://[^\s<>\"']+",
    "ipv4": r"\b(\d{1,3}\.)\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "iso_dates": r"\b\d{4}-\d{2}-\d{2}\b",
    "times": r"\b\d{1,2}:\d{2}(:\d{2})?\b",
    "numbers": r"\b\d+(\.\d+)?\b",
    "hashtags": r"(^|\s)#[A-Za-z][A-Za-z0-9_]*",
    "currency": r"[$€£]\s?\d[\d,]*(\.\d+)?",
}


def entity_counts(col: Column | str) -> dict[str, Column]:
    """Per-document counts of structured entities (r9 — the signal
    columns corpus-quality dashboards chart and extraction
    pipelines route on: URLs, emails, dates, numbers, money, ...).
    One ``regexp_count`` per entity type — map-only, codegen'd.
    Returns ``{f"n_{name}": Column}`` in ENTITY_PATTERNS order."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        f"n_{name}": F.coalesce(
            F.regexp_count(c, F.lit(pat)), F.lit(0)
        )
        .cast("long")
        .alias(f"n_{name}")
        for name, pat in ENTITY_PATTERNS.items()
    }


def jaro_winkler_py(a: str | None, b: str | None) -> float:
    """Reference Jaro-Winkler similarity (Winkler 1990), pinned to
    the convention shared by DuckDB's ``jaro_winkler_similarity``
    (verified pairwise over random strings in tests/test_r9b_ops.py):
    either side empty/NULL -> 0.0; matches inside the
    ``max(len)//2 - 1`` window; transpositions = half the
    out-of-order matches; prefix boost ``l*0.1*(1-j)`` with l <= 4
    applied only when jaro > 0.7. Used row-wise by the Arrow-batched
    :func:`jaro_winkler` column and directly by driver-side code."""
    if not a or not b:
        return 0.0
    la, lb = len(a), len(b)
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    ma = [False] * la
    mb = [False] * lb
    m = 0
    for i, ca in enumerate(a):
        lo = i - window if i > window else 0
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not mb[j] and b[j] == ca:
                ma[i] = mb[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(la):
        if ma[i]:
            while not mb[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    t //= 2
    j = (m / la + m / lb + (m - t) / m) / 3.0
    if j <= 0.7:
        return j
    l = 0
    for ca, cb in zip(a, b):
        if ca == cb and l < 4:
            l += 1
        else:
            break
    return j + l * 0.1 * (1.0 - j)


def jaro_winkler(a: Column | str, b: Column | str) -> Column:
    """Jaro-Winkler similarity column — the edit-distance-free
    string metric record-linkage blocks on (next to the JVM-side
    ``levenshtein`` Spark already provides). Arrow-batched pandas
    UDF over :func:`jaro_winkler_py`: the per-pair loop is O(|a|·w)
    on short keys (names), batched 10k rows per Arrow transfer —
    the candidate-pair frame it runs on must already be blocked
    (see ``dedup.strings.jaro_winkler_join``); never apply it to a
    raw cross join. Bit-identical to DuckDB's builtin, so battery
    oracles replay it exactly (``jw_name_pairs``)."""
    import pandas as pd  # noqa: F401 (signature typing only)

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b

    @F.pandas_udf("double")
    def _jw(sa, sb):
        return pd.Series(
            [jaro_winkler_py(x, y) for x, y in zip(sa, sb)],
            dtype="float64",
        )

    return _jw(a, b)


def compression_ratio(col: Column | str, *, level: int = 6) -> Column:
    """zlib compression ratio (r9c) — compressed_bytes /
    utf8_bytes of the column, the classic cheap quality signal
    (Gopher, RefinedWeb: boilerplate/spam and generated gibberish
    compress far better than natural prose; near-random noise
    compresses worse). Complements the explicit repetition ratios
    (operators/repetition.py) with a single model-free scalar.

    Arrow-batched pandas UDF (zlib is C-speed; the batch never
    leaves one task). Deterministic for a given zlib version and
    ``level`` — but NOT cross-engine replayable (no SQL zlib), so
    queries built on it are rows-only with pytest value contracts
    (tests/test_r9c_ops.py pins UDF output == direct zlib).
    Empty/NULL text → NULL.
    """
    import pandas as pd  # noqa: F401 (runtime dep of pandas_udf)

    c = F.col(col) if isinstance(col, str) else col

    @F.pandas_udf("double")
    def _ratio(s):
        import zlib

        import pandas as pd

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return round(len(zlib.compress(b, level)) / len(b), 6)

        return pd.Series([one(t) for t in s], dtype="float64")

    return _ratio(c)


_SENT_MARK = "\x1f"


def sentences(col: Column | str) -> Column:
    """Sentence segmentation (r9c) as a pure-JVM Column — the
    chunking precursor (operators/packing.py splits on characters;
    retrieval/readability want sentence boundaries). Heuristic
    chosen to be EXPRESSIBLE IN RE2 (DuckDB's engine has no
    lookahead, so the usual boundary lookarounds are out): insert a
    sentinel after every terminal-punctuation run followed by
    whitespace — ``([.!?]+)\\s+ → $1\\x1f`` — then split on the
    sentinel and trim. Abbreviation periods ("e.g. x") do split (no
    dictionary pass — documented tradeoff); terminal runs without
    trailing text do not produce empty sentences. Replays exactly
    in SQL via regexp_replace(..., 'g') + regexp_split_to_array
    (battery oracle ``sentence_stats``).
    """
    c = F.col(col) if isinstance(col, str) else col
    marked = F.regexp_replace(c, r"([.!?]+)\s+", r"$1" + _SENT_MARK)
    return F.filter(
        F.transform(F.split(marked, _SENT_MARK), lambda s: F.trim(s)),
        lambda s: s != "",
    )


def luhn_valid(digits: Column | str) -> Column:
    """Luhn mod-10 checksum validity of a digit string (ISO/IEC
    7812 — the card-number check digit): from the RIGHT, double
    every second digit, subtract 9 when >9, sum, valid iff ≡ 0
    (mod 10). Pure Column arithmetic over the reversed char array
    (one interpreted-HOF pass over a ≤19-char array — bounded, not
    corpus-scale); bit-replayable in any SQL engine. Empty / non-
    digit input returns false rather than NULL."""
    c = F.col(digits) if isinstance(digits, str) else digits
    chars = F.filter(F.split(F.reverse(c), ""), lambda x: x != "")
    vals = F.transform(
        chars,
        lambda ch, i: F.when(
            i % 2 == 1,
            F.when(
                (F.ascii(ch) - 48) * 2 > 9, (F.ascii(ch) - 48) * 2 - 9
            ).otherwise((F.ascii(ch) - 48) * 2),
        ).otherwise(F.ascii(ch) - 48),
    )
    total = F.aggregate(vals, F.lit(0), lambda a, x: a + x)
    return (
        c.rlike("^[0-9]+$")
        & (F.length(c) >= 2)
        & (F.pmod(total, F.lit(10)) == 0)
    )


def iban_valid(iban: Column | str) -> Column:
    """IBAN mod-97 validity (ISO 13616): move the first four chars
    to the end, map letters A→10 … Z→35, and the resulting decimal
    number must be ≡ 1 (mod 97). The modulus folds incrementally —
    acc = (acc·10 + digit) mod 97, letters contribute two digits
    (acc·100 + value) — so the arithmetic never leaves int64 (one
    interpreted-HOF pass over a ≤34-char array). Case-sensitive:
    lowercase letters fail (IBANs are uppercase by standard)."""
    c = F.col(iban) if isinstance(iban, str) else iban
    rearranged = F.concat(
        F.substring(c, 5, 2147483647), F.substring(c, 1, 4)
    )
    chars = F.filter(F.split(rearranged, ""), lambda x: x != "")
    acc = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda a, ch: F.when(
            ch.rlike("^[0-9]$"),
            F.pmod(a * 10 + (F.ascii(ch) - 48), F.lit(97).cast("long")),
        ).otherwise(
            F.pmod(a * 100 + (F.ascii(ch) - 55), F.lit(97).cast("long"))
        ),
    )
    return (
        c.rlike("^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$")
        & (F.length(c).between(15, 34))
        & (acc == 1)
    )


# candidate shapes for checksum-validated redaction; every pattern
# parses identically in Java regex and RE2 (the DuckDB oracle
# replays extraction + validation + replacement bit-exactly)
_CARD_CANDIDATES = (
    r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{1,7}\b",  # 4-4-4-rest groups
    r"\b\d{13,19}\b",  # contiguous PAN
)
_IBAN_CANDIDATE = r"\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b"


def redact_pii_checksum(
    col: Column | str,
    *,
    card_token: str = "<CARD>",
    iban_token: str = "<IBAN>",
) -> Column:
    """Checksum-validating PII redaction (r12 — the production
    upgrade of `redact_pii`'s regex-only pass, which over-fires on
    any card-shaped digit run: order ids, timestamps, hashes).
    Card-number-shaped candidates are redacted ONLY if their digits
    pass Luhn mod-10; IBAN-shaped candidates only if they pass ISO
    13616 mod-97. Extraction (`regexp_extract_all` on
    RE2-replayable patterns), validation (`luhn_valid` /
    `iban_valid` integer Column arithmetic) and replacement
    (literal `replace` folded over the validated candidates) are
    all JVM-side Column ops — map-only, no shuffle, no Python; the
    per-row candidate arrays are text-bounded, not corpus-bounded.
    Compose AFTER `redact_pii` for emails/IPs/phones — its phone
    pattern claims digit runs only when this pass has already
    consumed validated PANs, so run this first when combining
    (battery `pii_checksum` pins the composition)."""
    c = F.col(col) if isinstance(col, str) else col
    # no array_distinct: duplicate candidates make the fold a no-op,
    # and occurrence order is the one ordering both engines agree on
    # (a literal replace of candidate A can clobber a candidate B that
    # contains A, so fold order is part of the contract)
    for pat in _CARD_CANDIDATES:
        cands = F.regexp_extract_all(c, F.lit(pat), 0)
        valid = F.filter(
            cands,
            lambda x: luhn_valid(F.regexp_replace(x, "[^0-9]", "")),
        )
        c = F.aggregate(
            valid, c, lambda acc, x: F.replace(acc, x, F.lit(card_token))
        )
    ib = F.regexp_extract_all(c, F.lit(_IBAN_CANDIDATE), 0)
    valid_ib = F.filter(ib, lambda x: iban_valid(x))
    return F.aggregate(
        valid_ib, c, lambda acc, x: F.replace(acc, x, F.lit(iban_token))
    )


def damerau_levenshtein_py(a: str | None, b: str | None) -> int | None:
    """Reference FULL Damerau-Levenshtein distance
    (Lowrance–Wagner 1975: insert/delete/substitute + transposition
    of two characters possibly separated by intervening edits —
    NOT the restricted OSA variant), pinned to DuckDB's builtin
    ``damerau_levenshtein`` convention (verified pairwise over
    random strings in tests/test_r12_ops.py: e.g. 'ca'→'abc' is 2
    under full DL, 3 under OSA). NULL either side → NULL; empty →
    other side's length. Used row-wise by the Arrow-batched
    :func:`damerau_levenshtein` column."""
    if a is None or b is None:
        return None
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    inf = la + lb
    da: dict[str, int] = {}
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = inf
    for i in range(la + 1):
        d[i + 1][0] = inf
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = inf
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            m = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][m] + (i - k - 1) + 1 + (j - m - 1),
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def damerau_levenshtein(a: Column | str, b: Column | str) -> Column:
    """Full Damerau-Levenshtein distance column (r12 — the
    transposition-aware edit distance record linkage wants for
    typo'd names, next to Spark's builtin ``levenshtein`` which
    charges a swap 2 edits). Arrow-batched pandas UDF over
    :func:`damerau_levenshtein_py` — O(|a|·|b|) per pair on short
    keys; apply only to BLOCKED candidate frames
    (``dedup.strings.damerau_levenshtein_join``), never a raw cross
    join. Bit-identical to DuckDB's builtin, so battery oracles
    replay it exactly (``dl_name_pairs``)."""
    import pandas as pd

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b

    @F.pandas_udf("long")
    def _dl(sa, sb):
        return pd.Series(
            [damerau_levenshtein_py(x, y) for x, y in zip(sa, sb)],
            dtype="Int64",
        )

    return _dl(a, b)
