"""StringEncoder — parity with skrub/_string_encoder.py.

tf-idf of char n-grams + truncated SVD, re-architected for Spark:

- vectorization: grams hashed to ``hash_dim`` buckets (HashingTF
  style) — explode(grams) → (row, bucket) counts. All JVM-side.
- idf: one distributed groupBy over buckets.
- SVD: computed driver-side from the bucket×bucket gram matrix
  G = XᵀX accumulated distributively (hash_dim² is small and
  constant, independent of row count — this is the classic
  "tall-skinny" SVD: eigendecompose XᵀX, never materialize X).
- transform: explode → broadcast-join the (bucket → component row)
  projection table → groupBy(row) summing n_components columns.

Every step is a standard shuffle/broadcast op that scales linearly
in rows; only the hash_dim×n_components projection lives on the
driver."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import SparkTransformer
from ..functions.hashing import h60
from ..functions.text import char_ngrams

_RID = "__sk_row_id"


def _gram_expr(col, ngram_range):
    lo, hi = ngram_range
    grams = char_ngrams(F.col(col), lo)
    for n in range(lo + 1, hi + 1):
        grams = F.concat(grams, char_ngrams(F.col(col), n))
    return grams


class StringEncoder(SparkTransformer):
    def __init__(
        self,
        col: str,
        n_components: int = 30,
        ngram_range: tuple[int, int] = (3, 4),
        hash_dim: int = 1024,
        drop_original: bool = True,
        fit_sample: int | None = 100_000,
        hash: str = "xxhash",
    ):
        self.col = col
        self.n_components = n_components
        self.ngram_range = ngram_range
        self.hash_dim = hash_dim
        self.drop_original = drop_original
        self.fit_sample = fit_sample
        if hash not in ("xxhash", "md5"):
            raise ValueError("hash must be 'xxhash' or 'md5'")
        self.hash = hash

    @classmethod
    def from_frozen(
        cls,
        col: str,
        idf,
        components,
        ngram_range: tuple[int, int] = (3, 4),
        hash: str = "md5",
        drop_original: bool = True,
    ) -> "StringEncoder":
        """A fitted encoder from FROZEN (idf, components) literals —
        the r7 exact-oracle path: with ``hash='md5'`` (the
        engine-portable bucket rule) and committed 6dp parameters,
        ``transform`` is pure explode/join/sum arithmetic a SQL
        oracle replays (battery query ``string_encoder_frozen``).
        Also the production serve shape: fit once on a sample,
        transform any corpus with stable features."""
        comp = np.asarray([list(r) for r in components], dtype="float64")
        enc = cls(
            col,
            n_components=comp.shape[1],
            ngram_range=ngram_range,
            hash_dim=len(list(idf)),
            drop_original=drop_original,
            hash=hash,
        )
        enc._idf = np.asarray(list(idf), dtype="float64")
        enc._components = comp
        enc._k = comp.shape[1]
        enc._fitted = True
        return enc

    def _bucket_expr(self):
        if self.hash == "md5":
            # engine-portable: the 60-bit md5 hash mod hash_dim
            return F.pmod(h60("g"), F.lit(self.hash_dim)).cast("int")
        return F.pmod(F.xxhash64("g"), F.lit(self.hash_dim)).cast("int")

    def _bucket_counts(self, df: DataFrame) -> DataFrame:
        grams = _gram_expr(self.col, self.ngram_range)
        return (
            df.select(F.col(_RID), F.explode(grams).alias("g"))
            .withColumn("b", self._bucket_expr())
            .groupBy(_RID, "b")
            .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        )

    def _fit(self, df: DataFrame, y=None):
        d = self.hash_dim
        sample = df.select(self.col)
        if self.fit_sample is not None:
            # XᵀX accumulation is O(rows·nnz²); a seeded sample bounds
            # fit cost while transform stays full-data.
            sample = sample.limit(self.fit_sample)
        base = sample.withColumn(_RID, F.monotonically_increasing_id())
        n_rows = base.count()
        counts = self._bucket_counts(base)
        # idf per bucket
        dfreq = counts.groupBy("b").agg(F.count(F.lit(1)).alias("df"))
        idf_rows = dfreq.collect()
        idf = np.zeros(d)
        for r in idf_rows:
            idf[r["b"]] = np.log((1.0 + n_rows) / (1.0 + r["df"])) + 1.0
        self._idf = idf
        # gram matrix G = sum over rows of (tfidf vector outer product),
        # accumulated as pair co-occurrences: G[i,j] = Σ_row x_i x_j
        spark = df.sparkSession
        idf_df = spark.createDataFrame(
            [(int(i), float(v)) for i, v in enumerate(idf)], "b int, idf double"
        )
        tfidf = counts.join(F.broadcast(idf_df), "b").select(
            _RID, "b", (F.col("tf") * F.col("idf")).alias("w")
        )
        a = tfidf.select(F.col(_RID), F.col("b").alias("bi"), F.col("w").alias("wi"))
        bq = tfidf.select(F.col(_RID), F.col("b").alias("bj"), F.col("w").alias("wj"))
        gram = (
            a.join(bq, on=_RID)
            .groupBy("bi", "bj")
            .agg(F.sum(F.col("wi") * F.col("wj")).alias("g"))
            .collect()
        )
        G = np.zeros((d, d))
        for r in gram:
            G[r["bi"], r["bj"]] = r["g"]
        # eigendecomposition of G = V S² Vᵀ gives the right singular
        # vectors of the (implicit) tfidf matrix
        vals, vecs = np.linalg.eigh(G)
        order = np.argsort(vals)[::-1][: self.n_components]
        self._components = vecs[:, order]  # d × k
        self._k = self._components.shape[1]

    def get_feature_names_out(self):
        return [f"{self.col}_{i}" for i in range(self._k)]

    def _transform(self, df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        k = self._k
        proj_rows = [
            (int(b), float(self._idf[b]), [float(x) for x in self._components[b]])
            for b in range(self.hash_dim)
        ]
        proj = spark.createDataFrame(
            proj_rows, "b int, idf double, comp array<double>"
        )
        # localCheckpoint: base fans out (bucket counts + join back);
        # mono_id is nondeterministic without it (see ADVICE r1).
        base = df.withColumn(_RID, F.monotonically_increasing_id()).localCheckpoint(
            eager=False
        )
        counts = self._bucket_counts(base)
        contrib = counts.join(F.broadcast(proj), "b").select(
            _RID,
            *[
                (F.col("tf") * F.col("idf") * F.element_at("comp", i + 1)).alias(
                    f"__c{i}"
                )
                for i in range(k)
            ],
        )
        feats = contrib.groupBy(_RID).agg(
            *[F.sum(f"__c{i}").alias(f"{self.col}_{i}") for i in range(k)]
        )
        keep = [c for c in df.columns if not (self.drop_original and c == self.col)]
        out = base.join(feats, on=_RID, how="left")
        fill = {f"{self.col}_{i}": 0.0 for i in range(k)}
        return out.fillna(fill).select(
            *keep, *[f"{self.col}_{i}" for i in range(k)]
        )
