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

Sections (each ONE bounded aggregation over the corpus scan; the
whole datasheet is a fixed number of passes, never per-metric
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

_SCHEMA = "section string, metric string, value double"


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

    The persisted tokenized base frame backs the returned frame; see
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
    totals = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ntok").cast("long").alias("toks"),
        F.sum("nch").cast("long").alias("chars"),
        F.countDistinct("lang").cast("long").alias("nl"),
        F.countDistinct("source").cast("long").alias("ns"),
        F.countDistinct("text").cast("long").alias("nd"),
        F.max("nch").cast("long").alias("maxch"),
    )
    bt = F.broadcast(totals)

    lit = F.lit
    corpus = totals.selectExpr(
        "stack(6, "
        "'n_docs', cast(n as double), "
        "'n_tokens', cast(toks as double), "
        "'total_chars', cast(chars as double), "
        "'avg_chars', round(cast(chars as double) / cast(n as double), 6), "
        "'n_langs', cast(nl as double), "
        "'n_sources', cast(ns as double)"
        ") AS (metric, value)"
    ).select(lit("corpus").alias("section"), "metric", "value")

    def mix(col: str, section: str) -> DataFrame:
        return (
            base.groupBy(col)
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .crossJoin(bt)
            .select(
                lit(section).alias("section"),
                F.coalesce(F.col(col), lit("<null>")).alias("metric"),
                F.round(
                    F.col("c").cast("double") / F.col("n").cast("double"), 6
                ).alias("value"),
            )
        )

    # equal-width 10-bin length histogram; bin rule shared with the
    # PSI drift section and the SQL oracle
    binc = F.least(
        F.floor(
            F.col("nch") * 10 / (F.col("maxch") + 1)
        ).cast("int"),
        lit(9),
    )
    len_hist = (
        base.crossJoin(bt)
        .groupBy(binc.alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            lit("len_hist").alias("section"),
            F.concat(lit("bin_"), F.col("b").cast("string")).alias(
                "metric"
            ),
            F.col("c").cast("double").alias("value"),
        )
    )

    dedup = totals.select(
        lit("dedup").alias("section"),
        lit("exact_dup_rate").alias("metric"),
        F.round(
            (F.col("n") - F.col("nd")).cast("double")
            / F.col("n").cast("double"),
            6,
        ).alias("value"),
    )

    # ---- contamination: train docs sharing an 8-gram with the
    # deterministic eval split. Distinct grams on both sides; the
    # candidate join ships only gram-matched rows (semi join).
    is_eval = (F.col("id") % eval_modulus) == 0
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
    cont_counts = cont_ids.agg(
        F.count(F.lit(1)).cast("long").alias("nc")
    )
    split_counts = base.agg(
        F.sum(F.when(is_eval, 1).otherwise(0)).cast("long").alias("ne"),
        F.sum(F.when(~is_eval, 1).otherwise(0)).cast("long").alias("nt"),
    )
    contamination = (
        cont_counts.crossJoin(F.broadcast(split_counts))
        .selectExpr(
            "stack(3, "
            "'n_eval_docs', cast(ne as double), "
            "'n_train_docs', cast(nt as double), "
            "'contaminated_rate', "
            "round(cast(nc as double) / cast(greatest(nt, 1) as double), 6)"
            ") AS (metric, value)"
        )
        .select(lit("contamination").alias("section"), "metric", "value")
    )

    # ---- drift between doc_id-parity halves
    half = (F.col("id") % 2 == 0).alias("ha")
    hl = (
        base.crossJoin(bt)
        .groupBy(half, binc.alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    hsum = hl.groupBy("ha").agg(F.sum("c").cast("long").alias("hn"))
    wide = (
        hl.groupBy("b")
        .agg(
            F.sum(F.when(F.col("ha"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(~F.col("ha"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
        .crossJoin(
            F.broadcast(
                # coalesce: an empty doc-id-parity half must yield 0, not
                # NULL, so the PSI stays finite and matches the oracle's
                # zero-filled wide rows (same guard as the chi2 section)
                hsum.agg(
                    F.coalesce(
                        F.sum(F.when(F.col("ha"), F.col("hn"))), F.lit(0)
                    )
                    .cast("long")
                    .alias("na"),
                    F.coalesce(
                        F.sum(F.when(~F.col("ha"), F.col("hn"))), F.lit(0)
                    )
                    .cast("long")
                    .alias("nb"),
                )
            )
        )
    )
    # Laplace-smoothed shares (k=10 bins); each PSI term rounded 6dp
    # then decimal-summed — order-independent
    pa = (F.col("ca").cast("double") + 0.5) / (
        F.col("na").cast("double") + 5.0
    )
    pb = (F.col("cb").cast("double") + 0.5) / (
        F.col("nb").cast("double") + 5.0
    )
    psi = (
        wide.select(
            F.round((pa - pb) * F.log(pa / pb), 6)
            .cast("decimal(18,6)")
            .alias("t")
        )
        .agg(F.sum("t").cast("double").alias("value"))
        .select(
            lit("drift").alias("section"),
            lit("psi_length").alias("metric"),
            F.round("value", 6).alias("value"),
        )
    )
    # χ² over the lang mix between halves: expected = half_n × pooled
    lc = base.groupBy(half, F.col("lang").alias("lg")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lw = (
        lc.groupBy("lg")
        .agg(
            F.sum(F.when(F.col("ha"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(~F.col("ha"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
        .crossJoin(bt)
    )
    tots2 = lw.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    lw2 = lw.crossJoin(F.broadcast(tots2))
    pool = (F.col("ca") + F.col("cb")).cast("double") / (
        F.col("na") + F.col("nb")
    ).cast("double")
    ea = F.col("na").cast("double") * pool
    eb = F.col("nb").cast("double") * pool
    term = F.when(
        (ea > 0) & (eb > 0),
        (F.col("ca").cast("double") - ea)
        * (F.col("ca").cast("double") - ea)
        / ea
        + (F.col("cb").cast("double") - eb)
        * (F.col("cb").cast("double") - eb)
        / eb,
    ).otherwise(F.lit(0.0))  # a fully-empty half has no chi2 mass
    chi2 = (
        lw2.select(F.round(term, 6).cast("decimal(18,6)").alias("t"))
        .agg(F.sum("t").cast("double").alias("value"))
        .select(
            lit("drift").alias("section"),
            lit("chi2_lang").alias("metric"),
            F.round("value", 6).alias("value"),
        )
    )

    out = corpus
    for part in (
        mix("lang", "lang_mix"),
        mix("source", "source_mix"),
        len_hist,
        dedup,
        contamination,
        psi,
        chi2,
    ):
        out = out.unionByName(part)
    return out


def datasheet_html(rows: list, title: str = "Corpus datasheet") -> str:
    """Render collected datasheet rows (Row or (section, metric,
    value) tuples) as a self-contained HTML card. Presentation only
    — the numeric core is the oracle-checked artifact."""
    by_sec: dict[str, list[tuple[str, float]]] = {}
    for r in rows:
        s, m, v = (r["section"], r["metric"], r["value"]) if hasattr(
            r, "__getitem__"
        ) and not isinstance(r, tuple) else (r[0], r[1], r[2])
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
