"""Session defaults: Spark's codegen cache holds a repeated skrub
pipeline, so a refit compiles no class twice."""

from __future__ import annotations

from pyspark.sql import functions as F

from skrub_spark import session

_CACHE = "spark.sql.codegen.cache.maxEntries"


class _Builder:
    """Stands in for ``SparkSession.builder``: records the conf that
    ``get_session`` sets and returns it instead of a session."""

    def __init__(self):
        self.conf = {}

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_get_session_sizes_codegen_cache(spark, monkeypatch):
    """The session has the 1000-entry default; ``extra_conf`` wins."""
    assert spark.conf.get(_CACHE) == "1000"
    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    assert session.get_session()[_CACHE] == "1000"
    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    conf = session.get_session(extra_conf={_CACHE: "50"})
    assert conf[_CACHE] == "50"


def _skrub_pass(spark, sf_dir):
    """One pass of the skrub tabular surface, each result driven by a
    non-prunable action."""
    from skrub_spark.operators.agg_joiner import AggJoiner
    from skrub_spark.queries import queries
    from skrub_spark.report.table_report import TableReport
    from skrub_spark.sources import load_table
    from skrub_spark.table_vectorizer import TableVectorizer

    def table(name):
        return load_table(spark, sf_dir, name)

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    def customer_nation():
        return table("customer").join(
            table("nation"), F.col("c_nationkey") == F.col("n_nationkey")
        )

    tv = TableVectorizer().fit(customer_nation())
    run(tv.transform(customer_nation()))
    orders = table("orders")
    run(
        AggJoiner(
            table("lineitem"),
            main_key="o_orderkey",
            aux_key="l_orderkey",
            cols=["l_quantity", "l_extendedprice"],
            operations=["sum", "mean"],
        )
        .fit(orders)
        .transform(orders)
    )
    TableReport(orders).summary()
    run(queries()["fuzzy_join_customer_supplier"](spark, sf_dir))


def test_repeated_pipeline_compiles_no_class(spark, sf_dir, count_compiles):
    """The pass generates more classes than Spark's default cache of
    100 holds; with the session's cache its repeat compiles none."""
    _, first = count_compiles(lambda: _skrub_pass(spark, sf_dir))
    _, second = count_compiles(lambda: _skrub_pass(spark, sf_dir))
    assert second == 0, f"repeat compiled {second} classes (first pass {first})"
