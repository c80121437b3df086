"""GapEncoder — parity with skrub/_gap_encoder.py.

The reference fits a gamma-Poisson factorization of the bag-of-n-grams
matrix (KL-NMF with a Gamma(a, b) prior on the activations,
_gap_encoder.py:46-54) and outputs per-row topic activations. Its
update rules (_multiplicative_update_h:856 / _multiplicative_update_w:819)
are implemented here verbatim-in-math, in two physical layouts:

- ``fit_strategy="sample"`` (default): hashed n-gram count vectors of
  a seeded sample of DISTINCT values are pulled to the driver, where
  the gamma-Poisson multiplicative updates learn ``n_components``
  topics H. Right call for categorical columns (few uniques).
- ``fit_strategy="distributed"``: ALL distinct values participate.
  Topics stay driver-side (k x hash_dim, tiny); activations stay IN
  the cluster as an array column. Each iteration is (1) a per-row
  activation update in an Arrow-batched pandas UDF (no shuffle) and
  (2) the two M-step matrix products expressed as posexplode +
  groupBy aggregations over the (row, bucket, count) triples — the
  collected result is k x hash_dim, independent of row count. This is
  the long-tail-text path the sampled fit can't cover.
- ``partial_fit``: online topic updates with the reference's
  rho-discounted A/B accumulators (A <- rho*A + ..., W = A/B), so
  streaming batches refine the topics exactly like the reference's
  minibatch loop (_gap_encoder.py:620-698).

transform: per-row activations solve min KL(x, wH) + gamma prior by
the same multiplicative updates, executed distributed in an
Arrow-batched pandas UDF (the model H ships once per executor).

PARTIAL vs reference: init is the gamma draw (init='random'); the
k-means++ init needs sklearn. Fixed iteration counts instead of the
EWA-cost early stop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..base import SparkTransformer
from ..functions.hashing import h60
from ..functions.text import char_ngrams
from ..session import checkpoint

_EPS = 1e-10


def _init_topics(k: int, d: int, a: float, b: float, rng) -> np.ndarray:
    """Reference init='random': Gamma(shape=a, scale=b) draw,
    row-L1-normalized (_gap_encoder.py:312-317,345)."""
    H = rng.gamma(shape=a, scale=b, size=(k, d)) + _EPS
    return H / H.sum(axis=1, keepdims=True)


def _update_activations(
    X: np.ndarray, H: np.ndarray, W: np.ndarray, a: float, b: float,
    n_iter: int = 10,
) -> np.ndarray:
    """Reference _multiplicative_update_h (rescale_W=True branch):
    w <- w * ((x / wH) @ (H / WT1).T) + (a - 1) / WT1, WT1 = 1 + 1/b.
    (H rows are L1-normalized, so the per-topic normalizer is the
    scalar 1 + 1/b.)"""
    WT1 = 1.0 + 1.0 / b
    HT = (H / WT1).T
    const = (a - 1.0) / WT1
    for _ in range(n_iter):
        WH = W @ H + _EPS
        W = W * ((X / WH) @ HT) + const
    return W


def _fit_full_batch(
    X: np.ndarray, k: int, a: float, b: float, rho: float,
    n_iter: int, seed: int,
):
    """Driver-side gamma-Poisson fit: full-batch analogue of the
    reference minibatch loop. Returns (H, W, A, B) so partial_fit can
    keep accumulating."""
    rng = np.random.default_rng(seed)
    n, d = X.shape
    H = _init_topics(k, d, a, b, rng)
    W = np.full((n, k), 1.0 / k)
    A = np.full((k, d), 1e-10)
    B = np.full((k, d), 1e-10)
    for _ in range(n_iter):
        W = _update_activations(X, H, W, a, b, n_iter=1)
        WH = W @ H + _EPS
        A = rho * A + H * (W.T @ (X / WH))
        B = rho * B + W.sum(axis=0)[:, None]
        H = A / B
        norm = H.sum(axis=1, keepdims=True) + _EPS
        H /= norm
        A /= norm  # reference _rescale_W rescales the accumulator too
    return H, W, A, B


class GapEncoder(SparkTransformer):
    def __init__(
        self,
        col: str,
        n_components: int = 10,
        ngram_range: tuple[int, int] = (2, 4),
        hash_dim: int = 512,
        fit_sample: int = 5000,
        drop_original: bool = True,
        random_state: int = 0,
        gamma_shape_prior: float = 1.1,
        gamma_scale_prior: float = 1.0,
        rho: float = 0.95,
        max_iter: int = 100,
        fit_strategy: str = "sample",
    ):
        self.col = col
        self.n_components = n_components
        self.ngram_range = ngram_range
        self.hash_dim = hash_dim
        self.fit_sample = fit_sample
        self.drop_original = drop_original
        self.random_state = random_state
        self.gamma_shape_prior = gamma_shape_prior
        self.gamma_scale_prior = gamma_scale_prior
        self.rho = rho
        self.max_iter = max_iter
        self.fit_strategy = fit_strategy

    def _grams(self, col):
        lo, hi = self.ngram_range
        g = char_ngrams(F.col(col), lo)
        for n in range(lo + 1, hi + 1):
            g = F.concat(g, char_ngrams(F.col(col), n))
        return g

    def _bucketed(self, df: DataFrame, key: str) -> DataFrame:
        """(key, b, tf) hashed n-gram count triples, JVM-side."""
        return (
            df.select(F.col(key), F.explode(self._grams(key)).alias("g"))
            .withColumn(
                "b", F.pmod(F.xxhash64("g"), F.lit(self.hash_dim)).cast("int")
            )
            .groupBy(key, "b")
            .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        )

    # ---------------- sampled (driver) fit ----------------

    def _collect_matrix(self, uniq: DataFrame):
        rows = self._bucketed(uniq, self.col).collect()
        vals = sorted({r[self.col] for r in rows})
        vidx = {v: i for i, v in enumerate(vals)}
        X = np.zeros((max(len(vals), 1), self.hash_dim))
        for r in rows:
            X[vidx[r[self.col]], r["b"]] = r["count"] if "count" in r else r["tf"]
        return X

    def _fit(self, df: DataFrame, y=None):
        if self.fit_strategy == "distributed":
            return self._fit_distributed(df)
        uniq = (
            df.select(self.col)
            .where(F.col(self.col).isNotNull())
            .distinct()
            .orderBy(self.col)
            .limit(self.fit_sample)
        )
        X = self._collect_matrix(uniq)
        self._H, _, self._A, self._B = _fit_full_batch(
            X,
            self.n_components,
            self.gamma_shape_prior,
            self.gamma_scale_prior,
            self.rho,
            self.max_iter,
            self.random_state,
        )

    def partial_fit(self, df: DataFrame, y=None):
        """Online topic update from one batch (reference
        partial_fit, _gap_encoder.py:620): one activation E-step on
        the batch's distinct values, then one rho-discounted A/B
        topic update. First call initializes the topics."""
        uniq = (
            df.select(self.col)
            .where(F.col(self.col).isNotNull())
            .distinct()
            .orderBy(self.col)
            .limit(self.fit_sample)
        )
        X = self._collect_matrix(uniq)
        a, b = self.gamma_shape_prior, self.gamma_scale_prior
        if not hasattr(self, "_H"):
            rng = np.random.default_rng(self.random_state)
            self._H = _init_topics(self.n_components, self.hash_dim, a, b, rng)
            self._A = np.full((self.n_components, self.hash_dim), 1e-10)
            self._B = np.full((self.n_components, self.hash_dim), 1e-10)
        W = np.full((X.shape[0], self.n_components), 1.0 / self.n_components)
        W = _update_activations(X, self._H, W, a, b, n_iter=10)
        WH = W @ self._H + _EPS
        self._A = self.rho * self._A + self._H * (W.T @ (X / WH))
        self._B = self.rho * self._B + W.sum(axis=0)[:, None]
        H = self._A / self._B
        norm = H.sum(axis=1, keepdims=True) + _EPS
        self._H = H / norm
        self._A /= norm
        self._fitted = True
        return self

    # ---------------- distributed full-data fit ----------------

    def _fit_distributed(self, df: DataFrame, n_iter: int | None = None):
        """Every distinct value participates; no driver-side X.

        Per iteration: (1) activation update per row in a pandas UDF
        (rows independent — no shuffle); (2) M-step products
        N[k, bucket] = sum_r w[r, k] * x[r, bucket] / (wH)[r, bucket]
        and B[k] = sum_r w[r, k] via posexplode + groupBy — the
        collect is k x hash_dim scalars regardless of row count.
        Lineage is truncated each iteration (session.checkpoint) so
        the UDF chain doesn't re-execute from scratch."""
        n_iter = n_iter or max(5, self.max_iter // 10)
        k, d = self.n_components, self.hash_dim
        a, b, rho = self.gamma_shape_prior, self.gamma_scale_prior, self.rho

        triples = self._bucketed(
            df.select(self.col).where(F.col(self.col).isNotNull()).distinct(),
            self.col,
        )
        state = checkpoint(
            triples.groupBy(self.col)
            .agg(F.collect_list(F.struct("b", "tf")).alias("__sparse"))
            .withColumn(
                "__w", F.array(*[F.lit(1.0 / k) for _ in range(k)])
            )
        )

        rng = np.random.default_rng(self.random_state)
        H = _init_topics(k, d, a, b, rng)
        A = np.full((k, d), 1e-10)
        B = np.full((k, d), 1e-10)

        for _ in range(n_iter):
            Hb = H  # closure-captured; re-created each iter

            @pandas_udf("array<double>")
            def e_step(sparse: pd.Series, w: pd.Series) -> pd.Series:
                WT1 = 1.0 + 1.0 / b
                HT = (Hb / WT1).T
                const = (a - 1.0) / WT1
                out = []
                for row, wv in zip(sparse, w):
                    wv = np.asarray(wv, dtype="float64")
                    if row is None or len(row) == 0:
                        out.append([float(x) for x in wv])
                        continue
                    idx = np.array([int(e["b"]) for e in row])
                    x = np.array([float(e["tf"]) for e in row])
                    Hs = Hb[:, idx]
                    for _ in range(3):
                        wh = wv @ Hs + _EPS
                        wv = wv * ((x / wh) @ HT[idx]) + const
                    out.append([float(v) for v in wv])
                return pd.Series(out)

            @pandas_udf("array<double>")
            def contribs(sparse: pd.Series, w: pd.Series) -> pd.Series:
                """Flattened per-row M-step contribution:
                [k*i + t] = w[t] * tf_i / wh_i for the i-th bucket."""
                out = []
                for row, wv in zip(sparse, w):
                    wv = np.asarray(wv, dtype="float64")
                    if row is None or len(row) == 0:
                        out.append([])
                        continue
                    idx = np.array([int(e["b"]) for e in row])
                    x = np.array([float(e["tf"]) for e in row])
                    wh = wv @ Hb[:, idx] + _EPS
                    c = np.outer(x / wh, wv)  # (n_buckets, k)
                    out.append([float(v) for v in c.ravel()])
                return pd.Series(out)

            state = checkpoint(
                state.withColumn(
                    "__w", e_step(F.col("__sparse"), F.col("__w"))
                )
            )

            # N[k, bucket]: posexplode the flattened contributions and
            # aggregate JVM-side; one shuffle of (bucket, topic) keys.
            flat = state.select(
                F.col("__sparse"), contribs(F.col("__sparse"), F.col("__w")).alias("__c")
            )
            n_rows = (
                flat.select(
                    F.posexplode(F.col("__c")).alias("i", "v"),
                    F.col("__sparse"),
                )
                .select(
                    F.col("__sparse")[(F.col("i") / k).cast("int")]["b"].alias("bkt"),
                    F.pmod(F.col("i"), F.lit(k)).alias("t"),
                    F.col("v"),
                )
                .groupBy("bkt", "t")
                .agg(F.sum("v").alias("s"))
                .collect()
            )
            N = np.zeros((k, d))
            for r in n_rows:
                N[int(r["t"]), int(r["bkt"])] = r["s"]
            b_row = state.select(
                F.posexplode(F.col("__w")).alias("t", "v")
            ).groupBy("t").agg(F.sum("v").alias("s")).collect()
            Bvec = np.zeros(k)
            for r in b_row:
                Bvec[int(r["t"])] = r["s"]

            A = rho * A + H * N
            B = rho * B + Bvec[:, None]
            H = A / B
            norm = H.sum(axis=1, keepdims=True) + _EPS
            H /= norm
            A /= norm
        self._H, self._A, self._B = H, A, B

    def get_feature_names_out(self):
        return [f"{self.col}_topic_{i}" for i in range(self.n_components)]

    def _transform(self, df: DataFrame) -> DataFrame:
        H = self._H
        hash_dim = self.hash_dim
        k = self.n_components
        a, b = self.gamma_shape_prior, self.gamma_scale_prior
        rid = "__gap_row_id"

        # hashed bucket counts computed JVM-side with the SAME
        # xxhash64 bucketing the fit used (a Python-side hash would
        # misalign with H's columns); the UDF only runs the dense
        # fixed-H inference per Arrow batch.
        # localCheckpoint: `base` fans out into two plan branches
        # (sparse counts + the join back), and mono_id is
        # nondeterministic — truncate lineage so both branches see the
        # same ids even under task retries.
        base = df.withColumn(rid, F.monotonically_increasing_id()).localCheckpoint(
            eager=False
        )
        sparse = (
            base.select(rid, F.explode(self._grams(self.col)).alias("g"))
            .withColumn("b", F.pmod(F.xxhash64("g"), F.lit(hash_dim)).cast("int"))
            .groupBy(rid, "b")
            .agg(F.count(F.lit(1)).cast("double").alias("tf"))
            .groupBy(rid)
            .agg(
                F.collect_list(F.struct(F.col("b"), F.col("tf"))).alias("__sparse")
            )
        )

        @pandas_udf("array<double>")
        def topics(entries: pd.Series) -> pd.Series:
            X = np.zeros((len(entries), hash_dim))
            for i, row in enumerate(entries):
                if row is None:
                    continue
                for e in row:
                    X[i, int(e["b"])] = float(e["tf"])
            W = np.full((len(entries), k), 1.0 / k)
            W = _update_activations(X, H, W, a, b, n_iter=30)
            # L1-normalize (reference outputs topic proportions via
            # _rescale_h)
            W = W / (W.sum(axis=1, keepdims=True) + _EPS)
            return pd.Series([[float(x) for x in r] for r in W])

        joined = base.join(sparse, on=rid, how="left")
        out = joined.withColumn("__topics", topics(F.col("__sparse")))
        keep = [c for c in df.columns if not (self.drop_original and c == self.col)]
        return out.select(
            *keep,
            *[
                F.element_at("__topics", i + 1).alias(f"{self.col}_topic_{i}")
                for i in range(k)
            ],
        )


# ---------------- frozen exact twin (r9, VERDICT r8 #5) ----------------
#
# The GapEncoder FIT is rows-only by nature (a gamma-Poisson
# multiplicative-update loop isn't SQL-expressible), but a frozen
# transform can be: with the topics H committed as 6dp literals, a
# FIXED number of activation updates with 6dp requantization per
# step is pure arithmetic whose every intermediate is bit-identical
# across engines — the proven frozen-literal recipe
# (tools/train_frozen.py; _frozen.GAP_MODEL; battery query
# `gap_encoder_frozen`). The twin deliberately differs from the
# numpy transform path in three DOCUMENTED ways that make it
# replayable: md5 buckets instead of xxhash64 (engine-portable),
# per-step 6dp requantization of the activations (cross-engine
# float bridge), and a fixed +1e-6 in the WH denominator instead
# of numpy's +1e-10 (single IEEE add on both sides). Topic
# ORDERING and magnitudes still come from the real fit.

_GAP_SALT = "gap1|"


def fit_gap_frozen(
    df: DataFrame,
    value_col: str,
    *,
    n_components: int = 4,
    hash_dim: int = 128,
    n: int = 3,
    salt: str = _GAP_SALT,
    gamma_shape_prior: float = 1.1,
    gamma_scale_prior: float = 1.0,
    rho: float = 0.95,
    max_iter: int = 100,
    n_iter_transform: int = 5,
    fit_sample: int = 5000,
    random_state: int = 0,
) -> dict:
    """Fit gamma-Poisson topics over md5-bucketed char n-gram counts
    of the column's distinct values (same driver-side math as
    ``GapEncoder._fit``) and return the frozen-model dict consumed
    by :func:`gap_topics_frozen` and the generated DuckDB oracle:
    ``{"k", "hash_dim", "n", "salt", "n_iter", "wt1", "const",
    "topics": [k][hash_dim] 6dp floors >= 1e-6}``."""
    uniq = (
        df.select(value_col)
        .where(F.col(value_col).isNotNull())
        .distinct()
        .orderBy(value_col)
        .limit(int(fit_sample))
    )
    rows = (
        uniq.select(
            F.col(value_col).alias("v"),
            F.explode(char_ngrams(F.col(value_col), n)).alias("g"),
        )
        .select(
            "v", F.pmod(h60("g", salt), F.lit(int(hash_dim))).cast("int").alias("b")
        )
        .groupBy("v", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .collect()
    )
    vals = sorted({r["v"] for r in rows})
    vidx = {v: i for i, v in enumerate(vals)}
    X = np.zeros((max(len(vals), 1), hash_dim))
    for r in rows:
        X[vidx[r["v"]], r["b"]] = r["tf"]
    H, _, _, _ = _fit_full_batch(
        X,
        n_components,
        gamma_shape_prior,
        gamma_scale_prior,
        rho,
        max_iter,
        random_state,
    )
    wt1 = 1.0 + 1.0 / gamma_scale_prior
    return {
        "k": int(n_components),
        "hash_dim": int(hash_dim),
        "n": int(n),
        "salt": salt,
        "n_iter": int(n_iter_transform),
        # full-precision literals (repr round-trips identically in
        # both engines); the division/priors happen ONCE at freeze
        "wt1": float(wt1),
        "const": float((gamma_shape_prior - 1.0) / wt1),
        # 6dp topics floored at 1e-6 so the WH denominator can never
        # collapse to zero at quantization
        "topics": [
            [max(round(float(h), 6), 1e-6) for h in row] for row in H
        ],
    }


def gap_topics_frozen(
    df: DataFrame,
    model: dict,
    value_col: str,
    key_col: str,
) -> DataFrame:
    """Frozen-topic activations as PURE Columns (no Python in the
    hot path): adds ``{value_col}_topic_i`` for each of the model's
    k topics.

    Per row: md5-bucketed char n-gram counts (one explode + one
    map-side-combined (key, bucket) aggregation + one collect_list
    back to an array — the only shuffle), then ``n_iter`` fixed
    multiplicative updates starting from the uniform 6dp literal
    ``round(1/k, 6)``:

        ratio_e = tf_e / (w0*H0[b_e] + ... + w_{k-1}*H_{k-1}[b_e] + 1e-6)
        S_j     = SUM(round(ratio_e * Hj[b_e], 6)) as DECIMAL(28,6)
        w_j    <- round(w_j * S_j / wt1 + const, 6)

    Every multiply/divide/add is a single IEEE op on operands that
    are bit-identical across engines (6dp literals or exact
    decimals), every sum is an exact DECIMAL — so the activations
    replay EXACTLY in the DuckDB oracle under any partitioning.
    Topics enter the plan as ONE constant-folded ``F.expr`` array
    per component (element_at lookup — the dsir precedent; no join,
    no UDF). Rows with no grams run the same recursion with S=0.
    At 100 TB this is one narrow shuffle plus map-only arithmetic."""
    k = int(model["k"])
    d = int(model["hash_dim"])
    n_iter = int(model["n_iter"])
    wt1 = float(model["wt1"])
    const = float(model["const"])
    # topic arrays kept as SQL TEXT so the per-iteration update
    # expressions below can embed them into single parsed strings —
    # the python-composed per-topic zip_with/aggregate loop cost
    # ~2.5 s of py4j driver chatter per query build (measured
    # r12-opt); the parsed trees are identical
    topics_sql = [
        "array(" + ",".join(f"CAST({h:.6f} AS DOUBLE)" for h in row) + ")"
        for row in model["topics"]
    ]
    entries = (
        df.select(
            F.col(key_col).alias("__k"),
            F.explode(char_ngrams(F.col(value_col), model["n"])).alias("g"),
        )
        .select(
            "__k", F.pmod(h60("g", model["salt"]), F.lit(d)).cast("int").alias("b")
        )
        .groupBy("__k", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .groupBy("__k")
        .agg(F.collect_list(F.struct("b", "tf")).alias("__e"))
    )
    cur = df.join(
        entries.withColumnRenamed("__k", key_col), key_col, "left"
    ).withColumn(
        "__e",
        F.coalesce(
            F.col("__e"),
            F.expr("CAST(array() AS array<struct<b:int,tf:double>>)"),
        ),
    )
    w0 = float(f"{1.0 / k:.6f}")
    cur = cur.withColumns({f"__w{j}": F.lit(w0) for j in range(k)})
    # The multiplicative-update arithmetic below is the SAME
    # expression tree the former python-composed loop built
    # (transform / zip_with / aggregate / round in the same order,
    # same double literals via repr round-trip) — parsed from one
    # string per column instead of hundreds of py4j Column calls.
    wh = (
        "("
        + " + ".join(
            f"__w{j} * element_at({topics_sql[j]}, e.b + 1)"
            for j in range(k)
        )
        + " + CAST('1e-06' AS DOUBLE))"
    )
    for _ in range(n_iter):
        cur = cur.withColumn(
            "__r", F.expr(f"transform(__e, e -> e.tf / {wh})")
        )
        news = {}
        for j in range(k):
            s = (
                "aggregate("
                f"zip_with(__r, __e, (r, e) -> CAST(round("
                f"r * element_at({topics_sql[j]}, e.b + 1), 6"
                ") AS DECIMAL(28,6))), "
                "CAST(0 AS DECIMAL(28,6)), "
                "(acc, x) -> CAST(acc + x AS DECIMAL(28,6)))"
            )
            news[f"__w{j}"] = F.expr(
                f"round(__w{j} * CAST({s} AS DOUBLE) / "
                f"CAST('{wt1!r}' AS DOUBLE) + CAST('{const!r}' AS DOUBLE)"
                ", 6)"
            )
        cur = cur.withColumns(news)
    return cur.select(
        *df.columns,
        *[
            F.col(f"__w{j}").alias(f"{value_col}_topic_{j}")
            for j in range(k)
        ],
    )
