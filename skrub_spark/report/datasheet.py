"""Corpus datasheet ("data card") composite artifact (r10, VERDICT
r9 #4 — beyond-reference LLM-pipeline operator, SURVEY.md §2).

A 100 TB corpus release ships ONE document answering: how big is
it, what languages/sources is it made of, how duplicated is it, how
contaminated against the held-out eval split, and is the second
half drifting from the first? This operator composes those answers
into a single long-format numeric frame ``(section, metric,
value)`` — the exact-oracle core — plus a rendered HTML card
(:func:`datasheet_html`, smoke-tested only, the TableReport
precedent).

Sections (``corpus``, ``dedup`` and ``contamination`` read one
persisted one-row ``totals`` aggregate; the mixes, the histogram and
the drift statistics read one persisted GROUPING SETS aggregate, so
the whole datasheet is a fixed number of passes, never per-metric
jobs):

- ``corpus``    — n_docs, n_tokens, total_chars, avg_chars,
                  n_langs, n_sources
- ``lang_mix``  / ``source_mix`` — per-value document share
- ``len_hist``  — 10 equal-width text-length bins
- ``dedup``     — exact-duplicate rate (1 − distinct texts / docs)
- ``contamination`` — share of train-split docs sharing a word
  8-gram with the deterministic eval split (doc_id % 97 == 0 — the
  hash-split discipline, SQL-replayable)
- ``drift``     — PSI over the length histogram and a χ² statistic
  over the language mix between the doc_id-parity halves

Float determinism: every ratio is exact-integer counts through ONE
IEEE division rounded 6dp; PSI/χ² terms are individually rounded
6dp and summed as DECIMAL(18,6) (order-independent), matching the
repo's engine-determinism discipline. Reference parity: skrub's
TableReport (skrub/_reporting) is the single-table analogue; the
corpus-release composition is beyond-reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import words_az09, word_shingles

# The grouping-sets pass groups by one of these columns at a time;
# grouping_id() sets bit (len - 1 - i) for every column i it rolls up.
_KEYS = ("lang", "source", "b")
_GID = {
    k: sum(1 << (len(_KEYS) - 1 - i) for i, c in enumerate(_KEYS) if c != k)
    for k in _KEYS
}


def corpus_datasheet(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    source_col: str = "source",
    *,
    contamination_ngram: int = 8,
    eval_modulus: int = 97,
) -> DataFrame:
    """The datasheet's numeric core: ``(section, metric, value)``
    rows (value is a double — exact counts or 6dp ratios).

    The persisted tokenized base frame and the two persisted
    aggregates back the returned frame; see
    :func:`skrub_spark.release` for the cache contract."""
    from pyspark import StorageLevel

    # persisted: every datasheet section aggregates this frame, and
    # left lazy each union branch re-executed the per-row
    # tokenization (size(words_az09)) — ~8 corpus re-scans in one
    # action (r12-opt). MEMORY_AND_DISK so a 100 TB corpus spills
    # instead of OOMing (released by skrub_spark.release).
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).cast("string").alias("lang"),
        F.col(source_col).cast("string").alias("source"),
        F.col(text_col).alias("text"),
        F.length(text_col).cast("long").alias("nch"),
        F.size(words_az09(text_col)).cast("long").alias("ntok"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    is_eval = (F.col("id") % eval_modulus) == 0
    half_a = (F.col("id") % 2) == 0

    def n_if(cond):
        # a NULL doc_id is in neither split nor either half
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    # Both small aggregates are persisted: each feeds several union
    # branches, and AQE re-executes a shared aggregate once per branch.
    totals = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ntok").cast("long").alias("toks"),
        F.sum("nch").cast("long").alias("chars"),
        F.countDistinct("lang").cast("long").alias("nl"),
        F.countDistinct("source").cast("long").alias("ns"),
        F.countDistinct("text").cast("long").alias("nd"),
        F.max("nch").cast("long").alias("maxch"),
        n_if(is_eval).alias("ne"),
        n_if(~is_eval).alias("nt"),
        n_if(half_a).alias("na"),
        n_if(~half_a).alias("nb"),
    ).persist()
    bt = F.broadcast(totals)
    # one row per lang, per source and per length bin: the document
    # count and its split between the doc_id-parity halves. The
    # equal-width 10-bin length rule is shared with the SQL oracle.
    binc = F.least(
        F.floor(F.col("nch") * 10 / (F.col("maxch") + 1)).cast("int"),
        F.lit(9),
    )
    g = (
        base.crossJoin(bt)
        .select("id", "lang", "source", binc.alias("b"))
        .groupingSets([[k] for k in _KEYS], *_KEYS)
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).cast("long").alias("c"),
            n_if(half_a).alias("ca"),
            n_if(~half_a).alias("cb"),
        )
        .persist()
    )
    lang, source, b = (_GID[k] for k in _KEYS)
    shares = g.crossJoin(bt).selectExpr(
        f"CASE gid WHEN {lang} THEN 'lang_mix' "
        f"WHEN {source} THEN 'source_mix' ELSE 'len_hist' END AS section",
        f"CASE gid WHEN {lang} THEN coalesce(lang, '<null>') "
        f"WHEN {source} THEN coalesce(source, '<null>') "
        "ELSE concat('bin_', CAST(b AS STRING)) END AS metric",
        f"CASE gid WHEN {b} THEN CAST(c AS DOUBLE) "
        "ELSE round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS value",
    )

    # ---- contamination: train docs sharing an 8-gram with the
    # deterministic eval split. Distinct grams on both sides; the
    # candidate join ships only gram-matched rows (semi join).
    grams = base.select(
        "id",
        is_eval.alias("ev"),
        F.explode(
            word_shingles(F.col("text"), contamination_ngram)
        ).alias("g"),
    ).distinct()
    ev_grams = grams.where(F.col("ev")).select("g").distinct()
    cont_ids = (
        grams.where(~F.col("ev"))
        .join(ev_grams, "g", "left_semi")
        .select("id")
        .distinct()
    )
    scalars = cont_ids.agg(
        F.count(F.lit(1)).cast("long").alias("nc")
    ).crossJoin(bt).selectExpr(
        "stack(10, "
        "'corpus', 'n_docs', CAST(n AS DOUBLE), "
        "'corpus', 'n_tokens', CAST(toks AS DOUBLE), "
        "'corpus', 'total_chars', CAST(chars AS DOUBLE), "
        "'corpus', 'avg_chars', "
        "round(CAST(chars AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE), 6), "
        "'corpus', 'n_langs', CAST(nl AS DOUBLE), "
        "'corpus', 'n_sources', CAST(ns AS DOUBLE), "
        "'dedup', 'exact_dup_rate', "
        "round(CAST(n - nd AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE), 6), "
        "'contamination', 'n_eval_docs', CAST(ne AS DOUBLE), "
        "'contamination', 'n_train_docs', CAST(nt AS DOUBLE), "
        "'contamination', 'contaminated_rate', "
        "round(CAST(nc AS DOUBLE) / CAST(greatest(nt, 1) AS DOUBLE), 6)"
        ") AS (section, metric, value)"
    )

    def drift(gid: int, metric: str, term: str, *cols: str) -> DataFrame:
        """Sum over one grouping set's keys of a drift ``term`` of the
        half counts ``ca``/``cb`` and half totals ``na``/``nb``: each
        term rounded 6dp, then DECIMAL-summed (order-independent)."""
        return (
            g.where(F.col("gid") == gid)
            .crossJoin(bt)
            .selectExpr("ca", "cb", "na", "nb", *cols)
            .selectExpr(f"CAST(round({term}, 6) AS DECIMAL(18,6)) AS t")
            .selectExpr(
                "'drift' AS section",
                f"'{metric}' AS metric",
                "round(CAST(sum(t) AS DOUBLE), 6) AS value",
            )
        )

    # PSI over the length bins with Laplace-smoothed shares (k=10
    # bins); χ² over the lang mix, expected = half_n × pooled share
    # (a fully-empty half has no χ² mass)
    psi = drift(
        b,
        "psi_length",
        "(pa - pb) * ln(pa / pb)",
        "(CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 5.0) AS pa",
        "(CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 5.0) AS pb",
    )
    pool = "(CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))"
    chi2 = drift(
        lang,
        "chi2_lang",
        "CASE WHEN ea > 0 AND eb > 0 THEN "
        "(CAST(ca AS DOUBLE) - ea) * (CAST(ca AS DOUBLE) - ea) / ea"
        " + (CAST(cb AS DOUBLE) - eb) * (CAST(cb AS DOUBLE) - eb) / eb "
        "ELSE 0.0 END",
        f"CAST(na AS DOUBLE) * {pool} AS ea",
        f"CAST(nb AS DOUBLE) * {pool} AS eb",
    )
    return scalars.unionByName(shares).unionByName(psi).unionByName(chi2)


def datasheet_html(rows: list, title: str = "Corpus datasheet") -> str:
    """Render collected datasheet rows (Row or (section, metric,
    value) tuples) as a self-contained HTML card. Presentation only
    — the numeric core is the oracle-checked artifact."""
    by_sec: dict[str, list[tuple[str, float]]] = {}
    for s, m, v in rows:
        by_sec.setdefault(s, []).append((m, v))
    parts = [
        "<!doctype html><html><head><meta charset='utf-8'>",
        f"<title>{title}</title>",
        "<style>body{font-family:sans-serif;margin:2em}"
        "table{border-collapse:collapse;margin:0 0 1.5em}"
        "td,th{border:1px solid #ccc;padding:4px 10px;text-align:left}"
        "h2{margin:1em 0 .3em;font-size:1.05em}</style>",
        f"</head><body><h1>{title}</h1>",
    ]
    for sec in sorted(by_sec):
        parts.append(f"<h2>{sec}</h2><table>")
        parts.append("<tr><th>metric</th><th>value</th></tr>")
        for m, v in sorted(by_sec[sec]):
            sv = f"{v:g}" if v is not None else ""
            parts.append(f"<tr><td>{m}</td><td>{sv}</td></tr>")
        parts.append("</table>")
    parts.append("</body></html>")
    return "".join(parts)
