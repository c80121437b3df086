"""TableVectorizer / tabular_pipeline — parity with
skrub/_table_vectorizer.py and _tabular_pipeline.py.

Turns an arbitrary DataFrame into an all-numeric feature DataFrame:

- Cleaner pass (null strings → null, parse datetimes/numbers, drop
  uninformative columns)
- numeric → passthrough (optionally SquashingScaler)
- datetime → DatetimeEncoder
- low-cardinality string (≤ cardinality_threshold) → one-hot
  (compiled CASE expressions — no join, no shuffle)
- high-cardinality string → ``high_cardinality`` encoder
  (MinHashEncoder default, like the reference's hashing-friendly
  option; StringEncoder/GapEncoder pluggable)

The cardinality split mirrors skrub's: ``cardinality_threshold``
defaults to ``get_config()["cardinality_threshold"]`` (40). The
routing reads the approx distinct counts of the Cleaner's
DropUninformative pass (with ``clean=False``, one cardinality agg of
its own); one more agg collects every one-hot vocabulary. The
transform is a single select over the cleaned table plus whatever
the encoders add.
"""

from __future__ import annotations

import copy
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .base import SparkTransformer
from .config import get_config
from .encoders.datetime_encoder import DatetimeEncoder
from .encoders.minhash_encoder import MinHashEncoder
from .functions.text import sql_ident, sql_string
from .operators.cleaner import Cleaner

_NUMERIC = {"double", "float", "int", "bigint", "smallint", "tinyint"}


def _safe(name: str) -> str:
    return re.sub(r"[^0-9a-zA-Z_]", "_", name)


def _one_hot(c: str, v: str) -> Column:
    """``c = v`` as a DOUBLE named ``{c}_{_safe(v)}``. Parsed from SQL
    text, it costs one py4j call; the Column-built
    ``(F.col(c) == F.lit(v)).cast("double").alias(...)`` costs one
    per node, each recording a Python call site."""
    name = sql_ident(f"{c}_{_safe(v)}")
    return F.expr(f"CAST({sql_ident(c)} = {sql_string(v)} AS DOUBLE) AS {name}")


class TableVectorizer(SparkTransformer):
    def __init__(
        self,
        cardinality_threshold: int | None = None,
        high_cardinality=None,
        datetime=None,
        numeric=None,
        passthrough=(),
        clean: bool = True,
        specific_transformers=None,
    ):
        self.cardinality_threshold = cardinality_threshold
        self.high_cardinality = high_cardinality  # encoder prototype or None
        self.datetime = datetime
        self.numeric = numeric  # e.g. SquashingScaler() or None
        self.passthrough = list(passthrough)
        self.clean = clean
        # {column_name: encoder} overrides, applied before type routing
        # (reference: TableVectorizer specific_transformers)
        self.specific_transformers = dict(specific_transformers or {})

    def _fit(self, df: DataFrame, y=None):
        self._cleaner = Cleaner() if self.clean else None
        work = self._cleaner.fit(df).transform(df) if self._cleaner else df

        dtypes = dict(work.dtypes)
        str_cols = [
            c
            for c, t in dtypes.items()
            if t == "string"
            and c not in self.passthrough
            and c not in self.specific_transformers
        ]
        if self._cleaner:
            card = self._cleaner.approx_distinct_
        elif str_cols:
            row = work.agg(
                *[F.approx_count_distinct(c).alias(c) for c in str_cols]
            ).first()
            card = {c: row[c] for c in str_cols}
        else:
            card = {}
        thresh = self.cardinality_threshold
        if thresh is None:
            thresh = get_config()["cardinality_threshold"]
        one_hot = [c for c in str_cols if card[c] <= thresh]
        # collect_set drops nulls; array_sort is orderBy's binary order
        self._low_card: dict[str, list] = {}
        if one_hot:
            row = work.agg(
                *[F.array_sort(F.collect_set(c)).alias(c) for c in one_hot]
            ).first()
            self._low_card = {c: list(row[c]) for c in one_hot}

        self._encoders: list[SparkTransformer] = []
        self._numeric_cols = []
        self._kind = {}
        for c, t in dtypes.items():
            if c in self.specific_transformers:
                self._kind[c] = "specific"
                enc = copy.deepcopy(self.specific_transformers[c])
                if hasattr(enc, "col"):
                    enc.col = c
                elif hasattr(enc, "cols"):
                    enc.cols = [c]
                self._encoders.append(enc.fit(work))
            elif c in self.passthrough:
                self._kind[c] = "passthrough"
            elif t in _NUMERIC or t.startswith("decimal"):
                self._kind[c] = "numeric"
                self._numeric_cols.append(c)
            elif t.startswith("timestamp") or t == "date":
                self._kind[c] = "datetime"
                enc = (
                    copy.deepcopy(self.datetime)
                    if self.datetime is not None
                    else DatetimeEncoder(
                        cols=c, resolution="day", add_weekday=True
                    )
                )
                if hasattr(enc, "cols"):
                    enc.cols = [c]
                self._encoders.append(enc.fit(work))
            elif c in self._low_card:
                self._kind[c] = "one_hot"
            elif t == "string":
                self._kind[c] = "high_cardinality"
                enc = (
                    copy.deepcopy(self.high_cardinality)
                    if self.high_cardinality is not None
                    else MinHashEncoder(c, n_components=16)
                )
                if hasattr(enc, "col"):
                    enc.col = c
                self._encoders.append(enc.fit(work))
            else:
                # arrays/maps/binary: passthrough untouched
                self._kind[c] = "passthrough"

        if self.numeric is not None and self._numeric_cols:
            scaler = copy.deepcopy(self.numeric)
            scaler.cols = self._numeric_cols
            self._numeric_scaler = scaler.fit(work)
        else:
            self._numeric_scaler = None

    def get_feature_names_out(self):
        names = []
        for c, kind in self._kind.items():
            if kind in ("numeric", "passthrough"):
                names.append(c)
            elif kind == "one_hot":
                names += [f"{c}_{_safe(v)}" for v in self._low_card[c]]
        for enc in self._encoders:
            names += enc.get_feature_names_out()
        return names

    def _transform(self, df: DataFrame) -> DataFrame:
        work = self._cleaner.transform(df) if self._cleaner else df
        # one-hot low-cardinality strings inline
        drop = list(self._low_card)
        onehot_exprs = [
            _one_hot(c, v) for c, vals in self._low_card.items() for v in vals
        ]
        work = work.select(
            *[F.col(c) for c in work.columns if c not in drop], *onehot_exprs
        )
        for enc in self._encoders:
            work = enc.transform(work)
        if self._numeric_scaler is not None:
            work = self._numeric_scaler.transform(work)
        return work


def tabular_pipeline(df: DataFrame, target_col: str | None = None, **tv_kwargs):
    """skrub.tabular_pipeline analogue: vectorize a table and return
    (feature_df, feature_names); the result is ready for MLlib's
    VectorAssembler + any estimator."""
    feats = [c for c in df.columns if c != target_col]
    tv = TableVectorizer(**tv_kwargs)
    out = tv.fit(df.select(*feats)).transform(df)
    return out, tv.get_feature_names_out()
