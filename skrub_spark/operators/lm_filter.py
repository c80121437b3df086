"""N-gram language-model perplexity filtering (CCNet-style,
beyond-reference LLM-pipeline operator, SURVEY.md §2).

CCNet (Wenzek et al., arXiv:1911.00359) ranks Common-Crawl documents
by the perplexity of a language model trained on a trusted corpus and
keeps the low-perplexity head. Two smoothings share one relational
shape — and, crucially for 100 TB, both phases are pure relational
algebra:

- **train**: explode documents into n-grams, ``groupBy`` counts. The
  model IS a set of DataFrames; it is never collected to the driver,
  so vocabulary size is unbounded. Only a handful of scalars
  (vocabulary size, discounts) reach the driver.
- **score**: explode the target documents into n-grams, left-join the
  model counts (Spark auto-broadcasts a small model; a huge model
  degrades gracefully to a shuffle join on the n-gram key), then one
  ``groupBy(doc)`` for the mean negative log-likelihood.

Models:

- :class:`NgramLM` (``train_ngram_lm``): add-alpha,
  ``p(w | ctx) = (c(ctx·w) + a) / (c(ctx) + a·V)`` with ``V`` = the
  training vocabulary size — unseen n-grams/contexts degrade to
  ``a / (c(ctx) + a·V)`` / ``1/V`` instead of zeroing out.
- :class:`KNNgramLM` (``train_kn_ngram``): interpolated Kneser-Ney of
  any order ``n >= 3`` (KenLM's construction; CCNet scores with an
  order-5 model): per-order absolute discounts from count-of-counts,
  continuation counts for the lower orders, an optional top-order
  min-count prune. Unseen words fall through to an interpolation
  floor, never zero.
- Frozen serving path: ``kn_to_frozen`` serializes a trained KN model
  to committed literals and ``kn_from_frozen`` rebuilds it, so
  scoring is one map-only pass with broadcast codebook-sized joins
  and no training passes.

``perplexity_filter`` flags the low-perplexity head under either
model, ``ccnet_buckets`` cuts per-language perplexity terciles and
``rho_select`` ranks documents by the excess loss of one model over
another.

Float determinism (for the exact DuckDB oracles): each occurrence's
negative log-prob is rounded to 6 decimals and summed as
DECIMAL(28,6) — exact, associative, order-independent — then divided
by the occurrence count; ``ln`` of an identical IEEE quotient agrees
across engines at 6 decimals. Tokenization is the RE2-replayable
``words_az09``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import words_az09


def _words(text_col: str, words_col: str | None) -> Column:
    """A document's word array. ``words_col`` (r13, guide §2.4): read
    an already tokenized ``array<string>`` column instead of
    re-running the ``words_az09`` regex split — callers that train
    AND score over one corpus tokenize it once into a persisted
    narrow frame and every pass reuses the arrays (identical tokens,
    identical grams)."""
    return F.col(words_col) if words_col is not None else words_az09(text_col)


def _gram_col(text_col: str, g: int, words_col: str | None) -> Column:
    """Generator column ``gram``: one row per g-gram string
    ("w1 .. wg") of the document. ONE shingle array per row
    (per-column slices are interpreted HOFs that cost ~g x rows each
    — building the widest gram once and re-splitting the bounded
    g-word string AFTER the explode measured 3x faster for g = 5).
    Documents with fewer than g words explode to no rows."""
    from ..functions.text import _shifted_shingles

    return F.explode(
        _shifted_shingles(_words(text_col, words_col), g, " ")
    ).alias("gram")


def _explode_grams(
    df: DataFrame,
    text_col: str,
    id_cols: list[str],
    g: int,
    words_col: str | None = None,
) -> DataFrame:
    """``(.., gram)`` rows of ``df`` (see ``_gram_col``), after a
    ``fan_out`` of the narrow (ids, words) projection: the KN passes
    explode up to n shingle arrays per row."""
    from ..session import fan_out

    src = words_col if words_col is not None else text_col
    return fan_out(df.select(*id_cols, F.col(src))).select(
        *id_cols, _gram_col(text_col, g, words_col)
    )


def _vocab(
    df: DataFrame, text_col: str, words_col: str | None
) -> DataFrame:
    """One-row frame, column ``a``: distinct training words."""
    return df.select(F.explode(_words(text_col, words_col)).alias("w")).agg(
        F.countDistinct("w").cast("long").alias("a")
    )


def _mean_nll(
    df: DataFrame, occ: DataFrame, nll: Column, id_col: str
) -> DataFrame:
    """Per-document ``(id_col, n_ngrams, avg_nll)`` from occurrence
    rows ``occ`` and their negative log-prob ``nll``: -ln rounded
    6dp, exact DECIMAL(28,6) sum, divided by the occurrence count.
    Every id of ``df`` comes back; one with no occurrences scores
    ``n_ngrams`` 0 and a NULL ``avg_nll``."""
    per_doc = (
        occ.withColumn("nll_q", F.round(nll, 6).cast("decimal(28,6)"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            (F.sum("nll_q").cast("double") / F.count(F.lit(1)))
            .alias("avg_nll"),
        )
    )
    ids = df.select(id_col).distinct()
    return ids.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_ngrams"), F.lit(0)).cast("long").alias("n_ngrams"),
        F.col("avg_nll").cast("double").alias("avg_nll"),
    )


@dataclass
class NgramLM:
    """A distributed n-gram LM: counts stay in DataFrames."""

    n: int
    ngram_counts: DataFrame  # columns: gram, c
    ctx_counts: DataFrame  # columns: ctx, ctx_c
    vocab_size: int


def _gram_ctx(
    df: DataFrame,
    text_col: str,
    id_cols: list[str],
    n: int,
    words_col: str | None,
) -> DataFrame:
    """(.., gram, ctx) occurrence rows: ``ctx`` is the first n-1
    words of ``gram`` ('' for unigrams). No ``fan_out``: the
    add-alpha passes build one shingle array per row, and the
    repartition added 3 jobs to ``lm_perplexity_filter``."""
    ctx = (
        F.lit("")
        if n == 1
        else F.array_join(F.slice(F.split(F.col("gram"), " "), 1, n - 1), " ")
    )
    return df.select(*id_cols, _gram_col(text_col, n, words_col)).select(
        *id_cols, "gram", ctx.alias("ctx")
    )


def train_ngram_lm(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    *,
    words_col: str | None = None,
) -> NgramLM:
    """Count n-grams and contexts over ``df`` (the trusted corpus).

    Two aggregations, map-side partially combined; the only driver
    action is the scalar vocabulary size. ``words_col``: consume a
    pre-tokenized array column (see ``_words``)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    pairs = _gram_ctx(df, text_col, [], n, words_col)
    # persist the model: scoring left-joins BOTH count frames, and
    # without this each join re-executes the training explode+groupBy
    # lineage from the source scan
    ngram_counts = pairs.groupBy("gram").agg(
        F.count(F.lit(1)).alias("c")
    ).persist()
    ctx_counts = pairs.groupBy("ctx").agg(
        F.count(F.lit(1)).alias("ctx_c")
    ).persist()
    vocab = _vocab(df, text_col, words_col).collect()[0]["a"]
    return NgramLM(n=n, ngram_counts=ngram_counts, ctx_counts=ctx_counts,
                   vocab_size=int(vocab))


def score_ngram_perplexity(
    df: DataFrame,
    lm: NgramLM,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    words_col: str | None = None,
) -> DataFrame:
    """Per-document mean negative log-likelihood under ``lm``.

    Returns ``id_col``, ``n_ngrams`` (n-gram occurrences scored) and
    ``avg_nll`` (lower = more in-domain; documents with fewer than n
    words score NULL). ``exp(avg_nll)`` is the perplexity — left to
    the caller, the monotone score joins/filters identically.
    ``words_col``: consume a pre-tokenized array column (see
    ``_words``).
    """
    occ = _gram_ctx(df, text_col, [id_col], lm.n, words_col)
    joined = (
        occ.join(lm.ngram_counts, "gram", "left")
        .join(lm.ctx_counts, "ctx", "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .withColumn("ctx_c", F.coalesce(F.col("ctx_c"), F.lit(0)))
    )
    av = F.lit(float(alpha) * lm.vocab_size)
    nll = -F.log(
        (F.col("c") + F.lit(float(alpha))) / (F.col("ctx_c") + av)
    )
    return _mean_nll(df, joined, nll, id_col)


def perplexity_filter(
    df: DataFrame,
    lm: NgramLM,
    max_avg_nll: float,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style head selection: ``df`` joined with its scores
    (``n_ngrams``, ``avg_nll``) plus a ``keep`` flag
    (``avg_nll <= max_avg_nll``). Documents too short to score keep
    a NULL ``avg_nll`` and ``keep = false``.

    The model picks the smoothing: a :class:`KNNgramLM` (from
    ``train_kn_ngram`` or ``kn_from_frozen``) scores with
    interpolated Kneser-Ney and ignores ``alpha``; an
    :class:`NgramLM` scores add-``alpha``."""
    if isinstance(lm, KNNgramLM):
        scores = score_kn_ngram_perplexity(
            df, lm, text_col=text_col, id_col=id_col
        )
    else:
        scores = score_ngram_perplexity(
            df, lm, alpha=alpha, text_col=text_col, id_col=id_col
        )
    return df.join(scores, id_col).withColumn(
        "keep",
        F.col("avg_nll").isNotNull() & (F.col("avg_nll") <= F.lit(max_avg_nll)),
    )


# ---------------------------------------------------------------------
# Order-n interpolated Kneser-Ney (r11, VERDICT r10 #3): real CCNet
# scores with a KenLM 5-gram; this is the same construction at any
# order n >= 3 with per-order count-of-counts discounts and a
# top-order min-count prune so the largest count frame stays
# shuffle-friendly at 100 TB. Every count table is a DataFrame
# (vocabulary unbounded), continuation counts come from DISTINCT
# (k+1)-gram types, discounts are 6dp scalars, and scoring is one
# fixed-parenthesization chain over exact integer counts -> -ln
# rounded 6dp -> DECIMAL(28,6) per-doc sums (exact SQL replay: the
# oracles `lm_perplexity_kn` at n=3 and the GENERATED
# `lm_perplexity_kn5`).


@dataclass
class KNNgramLM:
    """Interpolated Kneser-Ney order-``n`` LM as DataFrames + scalars.

    - ``top_counts`` (kn_ctx, kn_w, c): n-gram counts, ctx = n-1
      words, PRUNED to ``c > prune`` (KenLM-style per-order prune,
      top order only — it is the frame that grows fastest).
    - ``top_ctx`` (kn_ctx, c_ctx, n1p_ctx): derived AFTER pruning,
      so the model is self-consistent over the pruned counts.
    - ``cont[k]`` (kn_ctx, kn_w, nc) for k = 2..n-1: continuation
      counts N1+(. ctx w) from distinct (k+1)-gram types.
    - ``cont_ctx[k]`` (kn_ctx, ncs, n_after).
    - ``uni_cont`` (kn_w, n1p): N1+(. w) from distinct bigram types.
    Scalars: vocab_size (+1 unseen slot), t_types, u_types,
    ``discounts[k]`` for k = 1..n."""

    n: int
    top_counts: DataFrame
    top_ctx: DataFrame
    cont: dict
    cont_ctx: dict
    uni_cont: DataFrame
    vocab_size: float
    t_types: float
    u_types: float
    discounts: dict
    prune: int


def _discount(n1: int, n2: int) -> float:
    """Absolute discount n1/(n1 + 2 n2), clamped into [0.05, 0.95]
    then 6dp-rounded (0.5 fallback for degenerate corpora). The
    clamp is load-bearing: a corpus where no type has count 1 gives
    n1 = 0 -> D = 0, which zeroes the unseen-word interpolation
    floor and makes -ln blow up (observed at sf0.1); KenLM bounds
    its discounts the same way."""
    if n1 + 2 * n2 == 0:
        return 0.5
    return round(min(max(n1 / (n1 + 2.0 * n2), 0.05), 0.95), 6)


def _ngram_occurrences(
    df: DataFrame,
    text_col: str,
    id_cols: list[str],
    n: int,
    words_col: str | None = None,
) -> DataFrame:
    """n-gram occurrence rows carrying EVERY suffix context:
    ``kn_ctx{k}`` (k-1 trailing context words, k = 2..n) + ``kn_w``
    — derived per exploded gram from its bounded n-word array."""
    arr = F.split(F.col("gram"), " ")
    return _explode_grams(df, text_col, id_cols, n, words_col).select(
        *id_cols,
        *[
            F.array_join(F.slice(arr, n - k + 1, k - 1), " ").alias(
                f"kn_ctx{k}"
            )
            for k in range(2, n + 1)
        ],
        F.element_at(arr, n).alias("kn_w"),
    )


def _gram_types_mid(
    df: DataFrame, text_col: str, k: int, words_col: str | None = None
) -> DataFrame:
    """DISTINCT (k+1)-gram types split as (first word dropped):
    ``(kn_ctx, kn_w)`` with kn_ctx = the k-1 middle words — one row
    per (w0, ctx, w) type, so ``groupBy(kn_ctx, kn_w).count()`` is
    the continuation count N1+(. ctx w)."""
    g = k + 1
    arr = F.split(F.col("gram"), " ")
    return (
        _explode_grams(df, text_col, [], g, words_col)
        .select(
            F.element_at(arr, 1).alias("w0"),
            F.array_join(F.slice(arr, 2, k - 1), " ").alias("kn_ctx"),
            F.element_at(arr, g).alias("kn_w"),
        )
        .distinct()
    )


def train_kn_ngram(
    df: DataFrame,
    text_col: str = "text",
    *,
    n: int = 5,
    prune: int = 0,
    words_col: str | None = None,
) -> KNNgramLM:
    """Train the interpolated-KN order-``n`` model on the trusted
    corpus. ``prune``: drop top-order n-grams with count <= prune
    BEFORE deriving the context stats (pruned grams fall through the
    interpolation to the continuation orders — never zero).
    ``words_col``: consume a pre-tokenized array column (see
    ``_words``).

    Distributed shape: THREE corpus passes — the top-order
    occurrence pass, one FUSED distinct-types pass covering every
    middle order g = 3..n-1 at once (the n-gram types reuse the
    cached ``top_full``), and the bigram-types pass — each an
    explode + map-side-combined groupBy; the per-order discounts
    come from one union aggregate over the count frames. Driver
    state is n+3 scalars. The top-order and middle-order frames are
    materialized EAGERLY before their many consumers: concurrent
    branches of a lazy persist each recompute the upstream
    (measured 2x on this exact lineage, r10 memory). The bigram-types
    frame gets no eager count: the scalar action below is its first
    consumer, and counting it first cost 2 more jobs for the same
    train time (order 3 and 5, sf0.1, 4 cores)."""
    if n < 3:
        raise ValueError(f"train_kn_ngram: n must be >= 3, got {n}")
    occ = _ngram_occurrences(df, text_col, [], n, words_col)
    ctx_cols = [f"kn_ctx{k}" for k in range(2, n + 1)]
    # grouping by every suffix context is the same key as
    # (kn_ctx{n}, kn_w) — the lower contexts are suffix functions of
    # kn_ctx{n} and ride along for free
    top_full = (
        occ.groupBy(*ctx_cols, "kn_w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    top_full.count()  # pass 1 materialized before its many consumers
    top_counts = (
        top_full.where(F.col("c") > int(prune))
        .select(F.col(f"kn_ctx{n}").alias("kn_ctx"), "kn_w", "c")
        .persist()
    )
    top_ctx = (
        top_counts.groupBy("kn_ctx")
        .agg(F.sum("c").alias("c_ctx"), F.count(F.lit(1)).alias("n1p_ctx"))
        .persist()
    )
    cont: dict = {}
    cont_ctx: dict = {}
    if n > 3:
        # fused middle-orders pass: every g = k+1 in 3..n-1 emits its
        # tagged (k, w0, mid, w) type rows into ONE distinct + groupBy
        mids = _gram_types_mid(df, text_col, 2, words_col).select(
            F.lit(2).alias("ko"), "kn_ctx", "kn_w"
        )
        for k in range(3, n - 1):
            mids = mids.unionAll(
                _gram_types_mid(df, text_col, k, words_col).select(
                    F.lit(k).alias("ko"), "kn_ctx", "kn_w"
                )
            )
        mid_counts = (
            mids.groupBy("ko", "kn_ctx", "kn_w")
            .agg(F.count(F.lit(1)).alias("nc"))
            .persist()
        )
        mid_counts.count()  # pass 2 materialized
    for k in range(2, n):
        if k == n - 1:
            # n-gram types ARE the rows of top_full (unpruned)
            types = top_full.select(
                F.col(f"kn_ctx{n - 1}").alias("kn_ctx"), "kn_w"
            )
            ck = types.groupBy("kn_ctx", "kn_w").agg(
                F.count(F.lit(1)).alias("nc")
            )
        else:
            ck = mid_counts.where(F.col("ko") == k).select(
                "kn_ctx", "kn_w", "nc"
            )
        cont[k] = ck.persist()
        cont_ctx[k] = (
            cont[k]
            .groupBy("kn_ctx")
            .agg(F.sum("nc").alias("ncs"), F.count(F.lit(1)).alias("n_after"))
            .persist()
        )
    # unigram continuation counts from DISTINCT bigram types
    from ..session import fan_out

    words = _words(text_col, words_col)
    nw = F.size(words)
    empty = F.array().cast("array<string>")
    has = nw >= 2
    bt = (
        fan_out(
            df.select(
                F.col(words_col if words_col is not None else text_col)
            )
        )
        .select(
            F.explode(
                F.arrays_zip(
                    F.when(has, F.slice(words, 1, nw - 1))
                    .otherwise(empty)
                    .alias("a"),
                    F.when(has, F.slice(words, 2, nw - 1))
                    .otherwise(empty)
                    .alias("b"),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("w1"), F.col("p.b").alias("wb"))
        .distinct()
    )
    uni_cont = (
        bt.groupBy(F.col("wb").alias("kn_w"))
        .agg(F.count(F.lit(1)).alias("n1p"))
        .persist()
    )
    # ONE action collects every scalar: per-order count-of-counts
    # (over the count frames), t/u continuation totals, and the
    # vocabulary size (the only uncached branch — a single
    # explode+distinct corpus scan, so no concurrent duplication)
    cfc = uni_cont.select(F.lit(1).alias("o"), F.col("n1p").alias("v"))
    for k in range(2, n):
        cfc = cfc.unionAll(
            cont[k].select(F.lit(k).alias("o"), F.col("nc").alias("v"))
        )
    cfc = cfc.unionAll(
        top_counts.select(F.lit(n).alias("o"), F.col("c").alias("v"))
    )
    scalars = (
        cfc.groupBy("o")
        .agg(
            F.count(F.when(F.col("v") == 1, 1)).cast("long").alias("a"),
            F.count(F.when(F.col("v") == 2, 1)).cast("long").alias("b"),
        )
        .select(F.lit("cc").alias("kind"), "o", "a", "b")
        .unionAll(
            uni_cont.agg(
                F.sum("n1p").cast("long").alias("a"),
                F.count(F.lit(1)).cast("long").alias("b"),
            ).select(F.lit("tu").alias("kind"), F.lit(0).alias("o"), "a", "b")
        )
        .unionAll(
            _vocab(df, text_col, words_col).select(
                F.lit("v").alias("kind"),
                F.lit(0).alias("o"),
                "a",
                F.lit(0).cast("long").alias("b"),
            )
        )
        .collect()
    )
    discounts = {
        int(r["o"]): _discount(int(r["a"]), int(r["b"]))
        for r in scalars
        if r["kind"] == "cc"
    }
    for k in range(1, n + 1):
        discounts.setdefault(k, 0.5)
    tu = next(r for r in scalars if r["kind"] == "tu")
    t_types, u_types = float(tu["a"] or 0), float(tu["b"] or 0)
    if t_types <= 0:
        raise ValueError(
            "train_kn_ngram: corpus has no bigrams — cannot build "
            "continuation counts"
        )
    vocab = next(r for r in scalars if r["kind"] == "v")["a"] or 0
    return KNNgramLM(
        n=n,
        top_counts=top_counts,
        top_ctx=top_ctx,
        cont=cont,
        cont_ctx=cont_ctx,
        uni_cont=uni_cont,
        vocab_size=float(int(vocab) + 1),
        t_types=t_types,
        u_types=u_types,
        discounts=discounts,
        prune=int(prune),
    )


def score_kn_ngram_perplexity(
    df: DataFrame,
    lm: KNNgramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    words_col: str | None = None,
) -> DataFrame:
    """Per-document mean negative log-likelihood under the order-n
    KN model: ``(id_col, n_ngrams, avg_nll)``; docs with fewer than
    n words score NULL. Fixed parenthesization per order (the DuckDB
    oracles mirror it verbatim):

      p1   = greatest(n1p - D1, 0)/T + ((D1*U)/T)*(1/V)
      p_k  = ncs_k>0 ? greatest(nc_k - D_k, 0)/ncs_k
                       + ((D_k*n_after_k)/ncs_k)*p_{k-1} : p_{k-1}
      p_n  = c_ctx>0 ? greatest(c - D_n, 0)/c_ctx
                       + ((D_n*n1p_ctx)/c_ctx)*p_{n-1} : p_{n-1}

    Unseen words/contexts fall through to the interpolation floor
    (never zero), so -ln is always finite. ``words_col``: consume a
    pre-tokenized array column (see ``_words``).
    """
    n = lm.n
    occ = _ngram_occurrences(df, text_col, [id_col], n, words_col)
    j = (
        occ.join(
            lm.top_counts.select(
                F.col("kn_ctx").alias(f"kn_ctx{n}"), "kn_w", "c"
            ),
            [f"kn_ctx{n}", "kn_w"],
            "left",
        ).join(
            lm.top_ctx.select(
                F.col("kn_ctx").alias(f"kn_ctx{n}"), "c_ctx", "n1p_ctx"
            ),
            f"kn_ctx{n}",
            "left",
        )
    )
    for k in range(2, n):
        j = j.join(
            lm.cont[k].select(
                F.col("kn_ctx").alias(f"kn_ctx{k}"),
                "kn_w",
                F.col("nc").alias(f"nc{k}"),
            ),
            [f"kn_ctx{k}", "kn_w"],
            "left",
        ).join(
            lm.cont_ctx[k].select(
                F.col("kn_ctx").alias(f"kn_ctx{k}"),
                F.col("ncs").alias(f"ncs{k}"),
                F.col("n_after").alias(f"na{k}"),
            ),
            f"kn_ctx{k}",
            "left",
        )
    j = j.join(lm.uni_cont, "kn_w", "left")
    t, u, v = F.lit(lm.t_types), F.lit(lm.u_types), F.lit(lm.vocab_size)
    d1 = F.lit(lm.discounts[1])
    n1p = F.coalesce(F.col("n1p"), F.lit(0)).cast("double")
    p = F.greatest(n1p - d1, F.lit(0.0)) / t + ((d1 * u) / t) * (
        F.lit(1.0) / v
    )
    for k in range(2, n):
        dk = F.lit(lm.discounts[k])
        nck = F.coalesce(F.col(f"nc{k}"), F.lit(0)).cast("double")
        ncsk = F.coalesce(F.col(f"ncs{k}"), F.lit(0)).cast("double")
        nak = F.coalesce(F.col(f"na{k}"), F.lit(0)).cast("double")
        p = F.when(
            ncsk > 0,
            F.greatest(nck - dk, F.lit(0.0)) / ncsk
            + ((dk * nak) / ncsk) * p,
        ).otherwise(p)
    dn = F.lit(lm.discounts[n])
    c = F.coalesce(F.col("c"), F.lit(0)).cast("double")
    c_ctx = F.coalesce(F.col("c_ctx"), F.lit(0)).cast("double")
    n1p_ctx = F.coalesce(F.col("n1p_ctx"), F.lit(0)).cast("double")
    p = F.when(
        c_ctx > 0,
        F.greatest(c - dn, F.lit(0.0)) / c_ctx
        + ((dn * n1p_ctx) / c_ctx) * p,
    ).otherwise(p)
    return _mean_nll(df, j, -F.log(p), id_col)


def ccnet_buckets(
    scores: DataFrame,
    lang_col: str,
    score_col: str,
    id_col: str,
    *,
    labels: tuple = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet's per-language perplexity bucketing (Wenzek et al. 2019
    §4.3 — the step AFTER scoring): within each language, rank
    documents by perplexity ascending and cut into |labels|
    equal-count buckets ('head' = most in-domain; CCNet trains on
    head+middle and discards tail, or reweights per bucket).

    Exact integer bucketing: ``bucket = ((rank-1) * k) DIV count``
    over a total order (score asc, id asc) — no ntile remainder
    ambiguity, bit-replayable in SQL. Unscoreable documents (NULL
    score — fewer words than the LM order) come back labeled
    'unscored' rather than silently dropped.

    100 TB shape (distributed-rank, r12 rewrite): NO corpus-frame
    per-language window — a Spark window partition cannot span
    tasks, so ``row_number() OVER (PARTITION BY lang)`` would put
    an entire language (≈half the corpus for English at CCNet
    scale) in ONE task. Instead the corpus reduces to its
    per-(lang, score) DISTINCT-value counts (map-side-combined
    groupBy); the language-partitioned cumulative sum runs over
    that bounded distinct-score frame only; each score group's
    first/last global rank decides its bucket span by the exact
    integer rule; and rows re-join their group's label map-only.
    The id tie-break (a (lang, score)-partitioned row_number) is
    applied ONLY to rows of the ≤ k−1 score groups per language
    that straddle a bucket boundary — bounded work unless a single
    tied score spans a boundary with corpus-scale multiplicity
    (degenerate for continuous perplexities). Output is
    bit-identical to the single-window formulation."""
    from pyspark.sql import Window

    k = len(labels)
    scored = scores.where(F.col(score_col).isNotNull())
    grp = scored.groupBy(
        F.col(lang_col).alias("__lang"), F.col(score_col).alias("__s")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    w_prev = (
        Window.partitionBy("__lang")
        .orderBy(F.col("__s").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = (
        grp.withColumn(
            "__cum_prev",
            F.coalesce(F.sum("__c").over(w_prev), F.lit(0)).cast("long"),
        )
        .withColumn(
            "__cnt",
            F.sum("__c").over(Window.partitionBy("__lang")).cast("long"),
        )
        .withColumn("__b_first", F.expr(f"(__cum_prev * {k}) DIV __cnt"))
        .withColumn(
            "__b_last",
            F.expr(f"((__cum_prev + __c - 1) * {k}) DIV __cnt"),
        )
    )
    lab = F.array(*[F.lit(x) for x in labels])
    joined = scored.join(
        grp,
        (F.col(lang_col) == F.col("__lang"))
        & (F.col(score_col) == F.col("__s")),
    )
    uniform = joined.where(F.col("__b_first") == F.col("__b_last")).select(
        *scores.columns,
        F.element_at(lab, (F.col("__b_first") + 1).cast("int")).alias(
            "bucket"
        ),
    )
    w_tie = Window.partitionBy(lang_col, score_col).orderBy(
        F.col(id_col).asc()
    )
    boundary = (
        joined.where(F.col("__b_first") != F.col("__b_last"))
        .withColumn("__rg", F.row_number().over(w_tie).cast("long"))
        .select(
            *scores.columns,
            F.element_at(
                lab,
                (
                    F.expr(f"((__cum_prev + __rg - 1) * {k}) DIV __cnt")
                    + 1
                ).cast("int"),
            ).alias("bucket"),
        )
    )
    unscored = scores.where(F.col(score_col).isNull()).withColumn(
        "bucket", F.lit("unscored")
    )
    return uniform.unionByName(boundary).unionByName(unscored)


def kn_to_frozen(lm: KNNgramLM) -> dict:
    """Serialize a trained `KNNgramLM` to a committed-literal dict
    (the `tools/train_frozen.py` freeze discipline — r12): every
    count table collected SORTED (deterministic file diffs), counts
    as exact ints, discounts already 6dp. Only sensible when the
    tables are codebook-sized — at order n the cont[k] tables hold
    the distinct (k+1)-gram types, which stay literal-sized only
    while vocab^k is bounded (order 3 at this corpus's vocab; an
    order-5 model's cont tables are corpus-sized and belong in
    parquet, not a frozen literal)."""
    def rows(df, cols, ints):
        out = []
        for r in df.collect():
            out.append(
                [int(r[c]) if c in ints else r[c] for c in cols]
            )
        return sorted(out)

    return {
        "n": int(lm.n),
        "prune": int(lm.prune),
        "vocab_size": float(lm.vocab_size),
        "t_types": float(lm.t_types),
        "u_types": float(lm.u_types),
        "discounts": {int(k): float(v) for k, v in lm.discounts.items()},
        "top_counts": rows(lm.top_counts, ["kn_ctx", "kn_w", "c"], {"c"}),
        "top_ctx": rows(
            lm.top_ctx, ["kn_ctx", "c_ctx", "n1p_ctx"], {"c_ctx", "n1p_ctx"}
        ),
        "cont": {
            int(k): rows(v, ["kn_ctx", "kn_w", "nc"], {"nc"})
            for k, v in lm.cont.items()
        },
        "cont_ctx": {
            int(k): rows(v, ["kn_ctx", "ncs", "n_after"], {"ncs", "n_after"})
            for k, v in lm.cont_ctx.items()
        },
        "uni_cont": rows(lm.uni_cont, ["kn_w", "n1p"], {"n1p"}),
    }


def kn_from_frozen(spark, model: dict) -> KNNgramLM:
    """Rebuild a `KNNgramLM` from a frozen dict: scoring against it
    is the SERVING path — the codebook-sized tables broadcast into
    `score_kn_ngram_perplexity`'s joins, so the corpus-scale work
    is one map-only pass (no training passes, no shuffles beyond
    the per-doc aggregation). Battery `kn_frozen` replays it
    bit-exactly from the same literals."""
    def df(rows, schema):
        return spark.createDataFrame([tuple(r) for r in rows], schema)

    return KNNgramLM(
        n=int(model["n"]),
        top_counts=df(
            model["top_counts"], "kn_ctx string, kn_w string, c long"
        ),
        top_ctx=df(
            model["top_ctx"], "kn_ctx string, c_ctx long, n1p_ctx long"
        ),
        cont={
            int(k): df(v, "kn_ctx string, kn_w string, nc long")
            for k, v in model["cont"].items()
        },
        cont_ctx={
            int(k): df(v, "kn_ctx string, ncs long, n_after long")
            for k, v in model["cont_ctx"].items()
        },
        uni_cont=df(model["uni_cont"], "kn_w string, n1p long"),
        vocab_size=float(model["vocab_size"]),
        t_types=float(model["t_types"]),
        u_types=float(model["u_types"]),
        discounts={int(k): float(v) for k, v in model["discounts"].items()},
        prune=int(model["prune"]),
    )


def rho_select(
    cur_scores: DataFrame,
    ref_scores: DataFrame,
    k: int,
    id_col: str = "doc_id",
    nll_col: str = "avg_nll",
) -> DataFrame:
    """RHO-loss-style learnability selection (r12b — Mindermann et
    al. 2022's reducible-holdout-loss principle, composed from this
    module's two scoring paths: pick the documents whose loss under
    the CURRENT model most exceeds their loss under a REFERENCE
    model trained elsewhere — high-excess points are learnable but
    not yet learned; low/negative excess is either mastered or
    noise). Returns the top-``k`` rows ``(id, nll_model, nll_ref,
    rho)`` with ``rho = round(nll_model − nll_ref, 6)``, ordered by
    (rho DESC, id ASC) — the deterministic total order.

    Documents missing either score (too short for one model's
    order) are excluded: an excess needs both sides.

    Plan shape (100 TB): one equi-join of the two score frames on
    the id key, then ORDER BY + LIMIT, which Spark compiles to
    TakeOrderedAndProject — per-partition top-k heaps and a
    driver merge of p·k rows, never a global sort (the
    reservoir_sample discipline).
    """
    if int(k) < 1:
        raise ValueError("rho_select: k must be >= 1")
    cur = cur_scores.select(
        F.col(id_col).alias("__id"),
        F.col(nll_col).alias("__cur"),
    ).where(F.col(nll_col).isNotNull())
    ref = ref_scores.select(
        F.col(id_col).alias("__id"),
        F.col(nll_col).alias("__ref"),
    ).where(F.col(nll_col).isNotNull())
    j = cur.join(ref, "__id")
    rho = F.round(F.col("__cur") - F.col("__ref"), 6)
    return (
        j.select(
            F.col("__id").alias(id_col),
            F.round("__cur", 6).alias("nll_model"),
            F.round("__ref", 6).alias("nll_ref"),
            rho.alias("rho"),
        )
        .orderBy(F.col("rho").desc(), F.col(id_col).asc())
        .limit(int(k))
    )
