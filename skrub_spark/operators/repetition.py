"""Gopher-style repetition quality filters (beyond-reference
LLM-pipeline operator, SURVEY.md §2).

Rae et al., "Scaling Language Models: ... Gopher" (arXiv:2112.11446,
Appendix A1) filter pre-training documents by REPETITION: fraction
of duplicate lines, fraction of characters inside duplicate lines,
and the share of the most frequent word. Every signal is PER
DOCUMENT, so this is intrinsically map-only work: each doc's lines/
words are sorted in-row (``array_sort``) and duplicate runs are
counted with one ``F.aggregate`` scan — zero shuffles, zero UDFs,
whole-stage-codegen throughout. (The r5 implementation exploded
lines and words corpus-wide and re-aggregated on (doc, item) — two
full-corpus shuffles for per-row statistics; at 100 TB that shuffle
IS the job. The sorted-run scan is O(L log L) per document and
embarrassingly parallel.)

Thresholds follow the paper's defaults loosely: a document is kept
when dup_line_frac <= 0.30, dup_line_char_frac <= 0.20 and
top_word_frac <= 0.20.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import lines, words_az09


# The scans' lambdas are parsed SQL: one py4j call each, where the
# Python-composed struct steps cost one per Column node.
_SAME = "acc.run > 0 AND x = acc.prev"
_RUN = f"CASE WHEN {_SAME} THEN acc.run + 1 ELSE 1 END"


def _line_run_scan(arr: Column) -> Column:
    """Scan sorted lines, counting distinct values and characters
    inside duplicated values: a run of length c>1 contributes
    c*length(line) to ``dup`` (the first repeat retroactively adds
    the run head's chars)."""
    return F.call_function(
        "aggregate",
        F.array_sort(arr),
        F.expr(
            "named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'nd', 0,"
            " 'dup', CAST(0 AS BIGINT))"
        ),
        F.expr(
            f"(acc, x) -> named_struct('prev', x, 'run', {_RUN},"
            f" 'nd', acc.nd + CASE WHEN {_SAME} THEN 0 ELSE 1 END,"
            f" 'dup', acc.dup + CASE WHEN {_SAME} THEN CAST(CASE WHEN"
            " acc.run = 1 THEN length(x) * 2 ELSE length(x) END AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
        ),
    )


def _top_run_scan(arr: Column) -> Column:
    """Longest equal-value run in a sorted array = the max
    occurrence count of any value."""
    return F.call_function(
        "aggregate",
        F.array_sort(arr),
        F.expr("named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0)"),
        F.expr(
            f"(acc, x) -> named_struct('prev', x, 'run', {_RUN},"
            f" 'best', greatest(acc.best, {_RUN}))"
        ),
    )


def repetition_stats(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals:

    - ``n_lines``, ``dup_line_frac``: 1 - distinct/total over
      non-empty trimmed lines,
    - ``dup_line_char_frac``: characters inside lines occurring more
      than once / all line characters,
    - ``n_words``, ``top_word_frac``: share of the most frequent
      [a-z0-9]+ word.

    Documents with no lines/words get 0.0 fractions. Map-only: two
    chained projections, no shuffle.

    r13 (guide §1.2 per-task work): the line/word arrays are
    materialized as BOUND COLUMNS in their own projection first —
    the signal expressions reference them 3x/2x, and with the
    interpreted HOF scans in the same projection the regex splits
    re-ran per reference (codegen subexpression elimination does
    not cover CodegenFallback HOF trees). Measured 0.76 s -> 0.52 s
    steady on the sf0.1 corpus, rows bit-identical. (The same
    materialization was A/B'd on remove_boilerplate_lines and
    showed NO change — its filter chain is evaluated once per
    output reference but the per-line classification is cheap
    enough that the second evaluation doesn't register; left
    alone.)
    """
    base = df.select(
        F.col(id_col),
        lines(content_col).alias("__ls"),
        words_az09(content_col).alias("__ws"),
    )
    ls = F.col("__ls")
    ws = F.col("__ws")
    stats = base.select(
        F.col(id_col),
        F.size(ls).cast("long").alias("n_lines"),
        _line_run_scan(ls).alias("__l"),
        F.call_function(
            "aggregate", ls, F.expr("CAST(0 AS BIGINT)"),
            F.expr("(acc, x) -> acc + length(x)"),
        ).alias("__tot_chars"),
        F.size(ws).cast("long").alias("n_words"),
        _top_run_scan(ws)["best"].cast("long").alias("__top_c"),
    )
    # float shape matches the DuckDB oracle exactly:
    # 1.0 - CAST(nd AS DOUBLE)/n — same promotion, same order
    return stats.select(
        id_col,
        "n_lines",
        F.when(
            F.col("n_lines") > 0,
            (F.lit(1.0) - F.col("__l")["nd"] / F.col("n_lines")).cast(
                "double"
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_line_frac"),
        F.when(
            F.col("__tot_chars") > 0,
            (F.col("__l")["dup"] / F.col("__tot_chars")).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_line_char_frac"),
        "n_words",
        F.when(
            F.col("n_words") > 0,
            (F.col("__top_c") / F.col("n_words")).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_word_frac"),
    )


def repetition_filter(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_word_frac: float = 0.20,
) -> DataFrame:
    """``repetition_stats`` plus a boolean ``keep`` column applying
    the Gopher-style thresholds."""
    stats = repetition_stats(df, content_col, id_col)
    keep = (
        (F.col("dup_line_frac") <= F.lit(float(max_dup_line_frac)))
        & (F.col("dup_line_char_frac") <= F.lit(float(max_dup_line_char_frac)))
        & (F.col("top_word_frac") <= F.lit(float(max_top_word_frac)))
    )
    return stats.withColumn("keep", keep)
