"""Cleaner / DropUninformative / DropSimilar — parity with
skrub/_table_vectorizer.py (Cleaner), _drop_uninformative.py,
_drop_similar.py.

Cleaner.fit runs three passes, none of them per column: a row count
and a seeded sample agg that detect datetime/numeric strings, then
DropUninformative's one agg of per-column null counts and approx
distinct counts over the cleaned columns (kept as
``approx_distinct_``, which TableVectorizer routes on). No
driver-side data."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import SparkTransformer
from ..encoders.dtypes import clean_null_string_col, to_datetime_col


def _seeded_sample(df: DataFrame, k: int, seed: int = 42) -> DataFrame:
    """~k rows drawn uniformly from EVERY partition (seeded Bernoulli
    sample) — a head ``limit(k)`` reads only the first partitions,
    which is partition-biased (e.g. time-ordered data would fit
    detection rules on the oldest rows only). Costs one columnar
    count of the input."""
    n = df.count()
    if n <= k:
        return df
    frac = min(1.0, 1.2 * k / n)
    return df.sample(withReplacement=False, fraction=frac, seed=seed).limit(k)


class DropUninformative(SparkTransformer):
    """Drop all-null, constant, and (optionally) all-unique string
    columns (reference: _drop_uninformative.py)."""

    def __init__(
        self,
        drop_if_constant: bool = True,
        drop_if_unique: bool = False,
        drop_null_fraction: float = 1.0,
    ):
        self.drop_if_constant = drop_if_constant
        self.drop_if_unique = drop_if_unique
        self.drop_null_fraction = drop_null_fraction

    def _fit(self, df: DataFrame, y=None):
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in df.columns:
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
            aggs.append(F.approx_count_distinct(c).alias(f"{c}__dist"))
        row = df.agg(*aggs).first()
        n = row["__n"]
        self.approx_distinct_ = {c: row[f"{c}__dist"] for c in df.columns}
        self.drops_ = []
        for c, t in df.dtypes:
            nulls, dist = row[f"{c}__nulls"], row[f"{c}__dist"]
            if n == 0 or nulls >= n * self.drop_null_fraction:
                self.drops_.append(c)
            elif self.drop_if_constant and dist + (1 if nulls else 0) <= 1:
                # null counts as a value: one non-null value + nulls is
                # still informative (null-ness distinguishes rows)
                self.drops_.append(c)
            elif (
                self.drop_if_unique
                and t == "string"
                and dist >= (n - nulls)
            ):
                self.drops_.append(c)

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.drop(*self.drops_)


class DropSimilar(SparkTransformer):
    """Drop near-duplicate columns (reference: _drop_similar.py):
    for each pair of same-dtype columns, keep the first if their
    values agree on at least ``threshold`` of a seeded sample."""

    def __init__(self, threshold: float = 0.95, sample_rows: int = 10_000):
        self.threshold = threshold
        self.sample_rows = sample_rows

    def _fit(self, df: DataFrame, y=None):
        sample = _seeded_sample(df, self.sample_rows).cache()
        by_type: dict[str, list[str]] = {}
        for c, t in df.dtypes:
            by_type.setdefault(t, []).append(c)
        pairs = [
            (a, b)
            for cols_ in by_type.values()
            for i, a in enumerate(cols_)
            for b in cols_[i + 1 :]
        ]
        self.drops_ = []
        if not pairs:
            return
        aggs = [
            F.avg(
                (
                    F.col(a).eqNullSafe(F.col(b))
                ).cast("double")
            ).alias(f"{a}__EQ__{b}")
            for a, b in pairs
        ]
        row = sample.agg(*aggs).first()
        dropped = set()
        for a, b in pairs:
            if a in dropped or b in dropped:
                continue
            if (row[f"{a}__EQ__{b}"] or 0.0) >= self.threshold:
                dropped.add(b)
        self.drops_ = sorted(dropped)

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.drop(*self.drops_)


class Cleaner(SparkTransformer):
    """skrub.Cleaner: null-string cleaning, datetime parsing of
    string columns that look like dates, numeric parsing of numeric-
    looking strings, then DropUninformative."""

    def __init__(
        self,
        drop_if_constant: bool = True,
        drop_null_fraction: float = 1.0,
        parse_datetimes: bool = True,
        parse_numbers: bool = True,
        datetime_detect_sample: int = 1000,
    ):
        self.drop_if_constant = drop_if_constant
        self.drop_null_fraction = drop_null_fraction
        self.parse_datetimes = parse_datetimes
        self.parse_numbers = parse_numbers
        self.datetime_detect_sample = datetime_detect_sample

    def _fit(self, df: DataFrame, y=None):
        str_cols = [c for c, t in df.dtypes if t == "string"]
        self._to_datetime: list[str] = []
        self._to_number: list[str] = []
        if str_cols and (self.parse_datetimes or self.parse_numbers):
            sample = _seeded_sample(
                df.select(str_cols), self.datetime_detect_sample
            )
            aggs = []
            for c in str_cols:
                cleaned = clean_null_string_col(c)
                aggs.append(F.count(cleaned).alias(f"{c}__nn"))
                aggs.append(
                    F.count(to_datetime_col(cleaned)).alias(f"{c}__dt")
                )
                aggs.append(
                    F.count(cleaned.try_cast("double")).alias(f"{c}__num")
                )
            row = sample.agg(*aggs).first()
            for c in str_cols:
                nn = row[f"{c}__nn"] or 0
                if nn == 0:
                    continue
                if self.parse_datetimes and row[f"{c}__dt"] == nn:
                    self._to_datetime.append(c)
                elif self.parse_numbers and row[f"{c}__num"] == nn:
                    self._to_number.append(c)
        cleaned_df = self._clean_exprs(df)
        self._drop = DropUninformative(
            drop_if_constant=self.drop_if_constant,
            drop_null_fraction=self.drop_null_fraction,
        ).fit(cleaned_df)
        # approx distinct count of each cleaned column, kept or dropped
        self.approx_distinct_ = self._drop.approx_distinct_

    def _clean_exprs(self, df: DataFrame) -> DataFrame:
        out = []
        for c, t in df.dtypes:
            if t != "string":
                out.append(F.col(c))
                continue
            cleaned = clean_null_string_col(c)
            if c in self._to_datetime:
                out.append(to_datetime_col(cleaned).alias(c))
            elif c in self._to_number:
                out.append(cleaned.try_cast("double").alias(c))
            else:
                out.append(cleaned.alias(c))
        return df.select(*out)

    def _transform(self, df: DataFrame) -> DataFrame:
        return self._drop.transform(self._clean_exprs(df))
