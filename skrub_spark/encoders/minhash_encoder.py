"""MinHashEncoder — parity with skrub/_minhash_encoder.py.

Encodes a string column as ``n_components`` min-hashes over char
n-grams (default range (2,4)); morphologically similar strings share
components. Stateless: transform is a single fold expression per
row (functions/hashing.minhash_from_grams) — no fit data needed, no
Python in the hot path, trivially parallel at 100 TB."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import SparkTransformer
from ..functions.hashing import minhash_from_grams
from ..functions.text import char_ngrams


class MinHashEncoder(SparkTransformer):
    def __init__(
        self,
        col: str,
        n_components: int = 30,
        ngram_range: tuple[int, int] = (2, 4),
        drop_original: bool = True,
    ):
        self.col = col
        self.n_components = n_components
        self.ngram_range = ngram_range
        self.drop_original = drop_original

    def _fit(self, df: DataFrame, y=None):
        pass

    def get_feature_names_out(self):
        return [f"{self.col}_{i}" for i in range(self.n_components)]

    def _transform(self, df: DataFrame) -> DataFrame:
        lo, hi = self.ngram_range
        # a null cell encodes like a string too short for any n-gram
        text = F.coalesce(F.col(self.col), F.lit(""))
        grams = char_ngrams(text, lo)
        for n in range(lo + 1, hi + 1):
            grams = F.concat(grams, char_ngrams(text, n))
        sig = minhash_from_grams(grams, self.n_components)
        keep = [c for c in df.columns if not (self.drop_original and c == self.col)]
        out = df.select(*keep, sig.alias("__sig"))
        comps = [
            F.element_at("__sig", i + 1).cast("double").alias(f"{self.col}_{i}")
            for i in range(self.n_components)
        ]
        return out.select(*keep, *comps)
