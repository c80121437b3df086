"""The benchmark's two workloads, each a frozen list of public calls.

A workload is a pass: an ordered list of ``Call``s that one client
issues back to back (a closed loop, one client). Every name below is
frozen here on purpose, so that moving or renaming code in the package
cannot silently change what a workload runs; a registry name that no
longer resolves through ``__spark_entry__.queries()`` (or has no
oracle in ``oracle_sql()``) fails the run.

A call returns either a DataFrame, which the harness drives with a
non-prunable ``write.format("noop")`` action and counts with an
``Observation``, or an eager result (a fitted estimator, a report
dict) that the call itself computed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

import datagen

# Registry queries run after the direct skrub calls of
# ``skrub_tabular``, the per-job-overhead regime: the cheapest of every
# 10th entry of bench.py's HEADLINE list at the commit that added this
# file.
REGISTRY_QUERIES = ["pricing_summary"]

# Input sizes: the star-schema scale factor (sf 0.002 is 300
# customers, 3000 orders, 12000 line items) and the curation corpus
# size, chosen so that a run (session start, a cold warm-up pass and
# two timed passes) stays under a minute on a 4-core host.
SF = 0.002
CURATION_DOCS = 2_000
CORPUS_FILES = 8
DSIR_K = 500
TV_FEATURES = 51  # TableVectorizer() features of customer ⋈ nation


@dataclass
class Call:
    name: str  # "<layer>.<call>", the per-layer metric prefix
    run: Callable[[], Any]
    expect_rows: int | None = None
    observe: list[Column] = field(default_factory=list)
    check: Callable[[Any, dict], str | None] | None = None


def registry_calls(spark, data_dir, names) -> list[Call]:
    """Calls of registry queries, each checked against the row count of
    its DuckDB oracle over the same files."""
    import __spark_entry__

    qs = __spark_entry__.queries()
    oracles = __spark_entry__.oracle_sql()
    missing = [n for n in names if n not in qs or n not in oracles]
    if missing:
        raise KeyError(f"no registry query with an oracle named {missing}")
    expected = oracle_row_counts(data_dir, [oracles[n] for n in names])
    return [
        Call(f"queries.{n}", lambda fn=qs[n]: fn(spark, data_dir), expect_rows=rows)
        for n, rows in zip(names, expected)
    ]


def oracle_row_counts(data_dir: str, sqls: list[str]) -> list[int]:
    """Row count of each oracle query, run by DuckDB over the parquet
    files in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        for t in datagen.table_sizes(SF):
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return [
            con.execute(f"SELECT count(*) FROM ({sql}) q").fetchone()[0]
            for sql in sqls
        ]
    finally:
        con.close()


def _skrub_tabular(spark, data_dir, rows):
    from skrub_spark.operators.agg_joiner import AggJoiner
    from skrub_spark.report.table_report import TableReport
    from skrub_spark.sources import load_table
    from skrub_spark.table_vectorizer import TableVectorizer

    def table(name):
        return load_table(spark, data_dir, name)

    def customer_nation():
        return table("customer").join(
            table("nation"), F.col("c_nationkey") == F.col("n_nationkey")
        )

    state = {}

    def tv_fit():
        # a failed fit must fail this pass's transform too
        state.pop("tv", None)
        state["tv"] = TableVectorizer().fit(customer_nation())
        return state["tv"]

    def tv_check(tv, _):
        n = len(tv.get_feature_names_out())
        return None if n == TV_FEATURES else f"{n} features, want {TV_FEATURES}"

    def agg_join():
        orders = table("orders")
        return AggJoiner(
            table("lineitem"),
            main_key="o_orderkey",
            aux_key="l_orderkey",
            cols=["l_quantity", "l_extendedprice"],
            operations=["sum", "mean"],
        ).fit(orders).transform(orders)

    def report_check(summary, _):
        got = (summary["n_rows"], summary["n_columns"])
        want = (rows["orders"], 6)
        return None if got == want else f"(rows, columns) {got}, want {want}"

    import __spark_entry__

    fuzzy = __spark_entry__.queries()["fuzzy_join_customer_supplier"]
    return [
        Call("table_vectorizer.fit", tv_fit, check=tv_check),
        Call(
            "table_vectorizer.transform",
            lambda: state["tv"].transform(customer_nation()),
            expect_rows=rows["customer"],
        ),
        Call("operators.agg_joiner", agg_join, expect_rows=rows["orders"]),
        Call(
            "operators.fuzzy_join",
            lambda: fuzzy(spark, data_dir),
            expect_rows=rows["customer"],
        ),
        Call(
            "report.table_report",
            lambda: TableReport(table("orders")).summary(),
            check=report_check,
        ),
    ] + registry_calls(spark, data_dir, REGISTRY_QUERIES)


def _llm_curation(spark, data_dir, rows):
    from skrub_spark._frozen import DSIR_MODEL, QUALITY_MODEL
    from skrub_spark.dedup.exact import dedup_exact
    from skrub_spark.dedup.minhash import dedup_minhash_pairs
    from skrub_spark.operators.dsir import dsir_resample
    from skrub_spark.operators.quality_classifier import score_quality
    from skrub_spark.operators.repetition import repetition_filter

    n = CURATION_DOCS
    planted = n // datagen.DUP_EVERY

    def corpus():
        return spark.read.parquet(os.path.join(data_dir, "corpus"))

    is_planted = (F.col("id_b") == F.col("id_a") + 1) & (
        F.col("id_a") % datagen.DUP_EVERY == 0
    )

    def pairs_check(_, obs):
        if obs["planted"] != planted:
            return f"found {obs['planted']} of {planted} planted pairs"
        return None

    def quality_check(_, obs):
        if not 0.0 < obs["lo"] <= obs["hi"] <= 1.0:
            return f"quality scores outside (0, 1]: {obs['lo']}..{obs['hi']}"
        return None

    def exact_check(_, obs):
        if obs["docs"] != n or obs["pairs"] != planted:
            return f"exact groups cover {obs['docs']} docs, {obs['pairs']} pairs"
        return None

    return [
        Call(
            "dedup.minhash_pairs",
            lambda: dedup_minhash_pairs(
                corpus(), "text", "doc_id", jaccard_threshold=0.8
            ),
            expect_rows=planted,
            observe=[F.sum(is_planted.cast("long")).alias("planted")],
            check=pairs_check,
        ),
        Call(
            "operators.score_quality",
            lambda: score_quality(corpus(), QUALITY_MODEL),
            expect_rows=n,
            observe=[
                F.min("quality_score").alias("lo"),
                F.max("quality_score").alias("hi"),
            ],
            check=quality_check,
        ),
        Call(
            "operators.dsir_resample",
            lambda: dsir_resample(corpus(), DSIR_MODEL, DSIR_K),
            expect_rows=min(DSIR_K, n),
        ),
        Call(
            "operators.repetition_filter",
            lambda: repetition_filter(corpus()),
            expect_rows=n,
        ),
        Call(
            "dedup.exact",
            lambda: dedup_exact(corpus()),
            expect_rows=n - planted,
            observe=[
                F.sum("n_duplicates").alias("docs"),
                F.sum((F.col("n_duplicates") == 2).cast("long")).alias("pairs"),
            ],
            check=exact_check,
        ),
    ]


WORKLOADS = {"skrub_tabular": _skrub_tabular, "llm_curation": _llm_curation}
