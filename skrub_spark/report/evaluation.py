"""Model-evaluation metric reports — the measurement side of the
learned-curation loop (quality classifier, interpolation joiner,
language-ID) run as exact distributed aggregations.

A 100 TB pipeline that scores documents with learned filters needs
to EVALUATE those filters at the same scale: per-class
precision/recall over the whole corpus, calibration of the scores
the samplers consume (a mis-calibrated keep-probability silently
reshapes the corpus mix), and regression error of imputation
joins. All three reports here are single-pass aggregations over
exact counts with the proven cross-engine bridges (single IEEE
divisions of counts; 6dp-rounded terms summed as DECIMAL(28,6)),
so each one is bit-identically SQL-replayable (battery oracles
``classification_eval`` / ``calibration_eval`` /
``regression_eval``).

Reference parity note: the skrub reference delegates metrics to
sklearn (reference ``skrub/_data_ops/_skrub_learner.py:1`` scoring
via estimator.score); here they are native DataFrame aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import checkpoint

_NULL = "<null>"


def classification_report(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Per-class precision/recall/F1 over the full frame: one row
    per class appearing in labels OR predictions —
    ``(clazz, n_true, n_pred, tp, precision, recall, f1,
    accuracy)`` (``accuracy`` is the global value repeated on
    every row). Undefined ratios (empty class on one side) are
    NULL, matching sklearn's zero-division=NaN semantics. ONE
    (label, pred) contingency reduce is the corpus-scale work."""
    lab = F.coalesce(F.col(label_col).cast("string"), F.lit(_NULL))
    prd = F.coalesce(F.col(pred_col).cast("string"), F.lit(_NULL))
    # The contingency table is consumed by FOUR branches (n_true,
    # n_pred, tp, totals); without an EAGER branch point each one
    # recomputes the full upstream — concurrently, so a lazy
    # .persist() doesn't even dedupe them (the learned-LID scoring
    # pipeline in classification_eval measured 6.7s vs 0.5s for the
    # bare scoring query at sf0.1, r10). cells is at most (k+1)²
    # rows, so the eager checkpoint is codebook-sized.
    #
    # API-boundary tradeoff (documented, r10 advice): the checkpoint
    # executes the upstream AT CALL TIME. Without a checkpoint dir it
    # is a localCheckpoint, whose blocks are NOT replayable — on a
    # cluster, losing the executor holding them fails downstream
    # actions instead of recomputing (blocks are freed by
    # skrub_spark.release); for a (k+1)²-row frame consumed
    # immediately that exposure window is negligible. A session with
    # a checkpoint dir set (sparkContext.setCheckpointDir) gets a
    # fault-tolerant checkpoint written there instead.
    cells = checkpoint(
        df.groupBy(lab.alias("lab"), prd.alias("prd")).agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    nt = cells.groupBy(F.col("lab").alias("clazz")).agg(
        F.sum("c").alias("n_true")
    )
    np_ = cells.groupBy(F.col("prd").alias("clazz")).agg(
        F.sum("c").alias("n_pred")
    )
    tp = (
        cells.filter(F.col("lab") == F.col("prd"))
        .select(F.col("lab").alias("clazz"), F.col("c").alias("tp"))
    )
    totals = cells.agg(
        F.sum("c").alias("__n"),
        F.sum(F.when(F.col("lab") == F.col("prd"), F.col("c"))).alias(
            "__tp_all"
        ),
    )
    classes = (
        nt.select("clazz")
        .union(np_.select("clazz"))
        .distinct()
        .join(nt, "clazz", "left")
        .join(np_, "clazz", "left")
        .join(tp, "clazz", "left")
        .join(F.broadcast(totals))
    )
    n_true = F.coalesce("n_true", F.lit(0)).cast("long")
    n_pred = F.coalesce("n_pred", F.lit(0)).cast("long")
    tp_c = F.coalesce("tp", F.lit(0)).cast("long")
    prec = F.when(
        n_pred > 0,
        F.round(tp_c.cast("double") / n_pred.cast("double"), 6),
    )
    rec = F.when(
        n_true > 0,
        F.round(tp_c.cast("double") / n_true.cast("double"), 6),
    )
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & ((prec + rec) > 0),
        F.round(F.lit(2.0) * prec * rec / (prec + rec), 6),
    )
    return classes.select(
        "clazz",
        n_true.alias("n_true"),
        n_pred.alias("n_pred"),
        tp_c.alias("tp"),
        prec.alias("precision"),
        rec.alias("recall"),
        f1.alias("f1"),
        F.round(
            F.coalesce("__tp_all", F.lit(0)).cast("double")
            / F.col("__n").cast("double"),
            6,
        ).alias("accuracy"),
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected calibration error for a
    [0, 1] score against a 0/1 label: per occupied bin
    ``(bin, n, conf, acc, gap, ece)`` — ``conf`` the bin's mean
    score (6dp decimal mean), ``acc`` its positive rate, ``gap``
    |acc − conf|, ``ece`` the n-weighted global gap repeated on
    every row. One binning groupBy; NULL scores/labels are
    dropped."""
    n_bins = int(n_bins)
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    binned = (
        df.filter(s.isNotNull() & y.isNotNull())
        .select(
            F.least(
                F.lit(n_bins - 1),
                F.floor(s * F.lit(float(n_bins))).cast("int"),
            ).alias("bin"),
            F.round(s, 6).cast("decimal(28,6)").alias("s6"),
            y.alias("y"),
        )
    )
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s6").alias("ssum"),
        F.sum("y").cast("long").alias("pos"),
    )
    per = per.select(
        "bin",
        "n",
        F.round(
            F.col("ssum").cast("double") / F.col("n").cast("double"), 6
        ).alias("conf"),
        F.round(
            F.col("pos").cast("double") / F.col("n").cast("double"), 6
        ).alias("acc"),
    ).withColumn("gap", F.round(F.abs(F.col("acc") - F.col("conf")), 6))
    tot = per.agg(F.sum("n").alias("__nt"))
    ece = (
        per.join(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    F.col("n").cast("double")
                    / F.col("__nt").cast("double")
                    * F.col("gap"),
                    6,
                ).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("ece")
        )
    )
    return per.join(F.broadcast(ece)).select(
        "bin", "n", "conf", "acc", "gap", "ece"
    )


def regression_report(
    df: DataFrame, y_col: str, yhat_col: str
) -> DataFrame:
    """One row ``(n, mae, rmse, r2)`` for a numeric prediction
    column: residual terms round to 6dp and sum as DECIMAL(28,6)
    (partitioning-invariant), rmse is the 6dp root of the decimal
    mse, r2 uses the same discipline for the total sum of squares
    around the 6dp decimal mean. NULL pairs are dropped."""
    y = F.col(y_col).cast("double")
    yh = F.col(yhat_col).cast("double")
    d = df.filter(y.isNotNull() & yh.isNotNull()).select(
        y.alias("y"), yh.alias("yh")
    )
    mean_row = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.round(F.col("y"), 6).cast("decimal(28,6)")
        ).alias("ysum"),
    )
    d2 = d.join(F.broadcast(mean_row)).withColumn(
        "ybar",
        F.round(
            F.col("ysum").cast("double") / F.col("n").cast("double"), 6
        ),
    )
    agg = d2.agg(
        F.max("n").alias("n"),
        F.sum(
            F.round(F.abs(F.col("y") - F.col("yh")), 6).cast(
                "decimal(28,6)"
            )
        ).alias("sae"),
        F.sum(
            F.round(
                (F.col("y") - F.col("yh")) * (F.col("y") - F.col("yh")),
                6,
            ).cast("decimal(28,6)")
        ).alias("sse"),
        F.sum(
            F.round(
                (F.col("y") - F.col("ybar"))
                * (F.col("y") - F.col("ybar")),
                6,
            ).cast("decimal(28,6)")
        ).alias("sst"),
    )
    sse = F.col("sse").cast("double")
    sst = F.col("sst").cast("double")
    return agg.select(
        F.col("n"),
        F.round(
            F.col("sae").cast("double") / F.col("n").cast("double"), 6
        ).alias("mae"),
        F.round(
            F.sqrt(sse / F.col("n").cast("double")), 6
        ).alias("rmse"),
        F.when(
            sst > 0, F.round(F.lit(1.0) - sse / sst, 6)
        ).alias("r2"),
    )


def ranking_report(
    df: DataFrame,
    query_col: str,
    rank_col: str,
    rel_col: str,
    n_relevant_col: str,
    k: int = 10,
) -> DataFrame:
    """Ranking metrics per query over a top-``k`` run:
    ``(query, k, hits, precision_at_k, mrr, dcg, ndcg)`` —
    the retrieval side of the evaluation family (scores the
    BM25 / ANN / hybrid stacks against relevance labels).

    ``df`` is the ranked candidate list: one row per (query,
    candidate) with its 1-based ``rank_col``, binary ``rel_col``
    and ``n_relevant_col`` = the query's TOTAL relevant count
    corpus-wide (for the ideal DCG). Exactness: every ``1/rank``
    and ``1/log2(i+1)`` value is a PRECOMPUTED 6dp literal looked
    up by rank (a CASE chain — no runtime float log at all), and
    DCG sums those literals as DECIMAL(28,6) — so every metric
    replays bit-identically in SQL (battery oracle
    ``ranking_eval``). One groupBy per query; the frame is
    run-sized (queries × k), never corpus-sized."""
    import math

    k = int(k)
    d = df.filter(F.col(rank_col) <= k)
    rel = F.col(rel_col).cast("long")
    # rank -> round(1/log2(rank+1), 6) literal lookup
    dcg_t = F.lit(None).cast("double")
    for i in range(k, 0, -1):
        dcg_t = F.when(
            F.col(rank_col) == i,
            F.lit(round(1.0 / math.log2(i + 1), 6)),
        ).otherwise(dcg_t)
    # rank -> round(1/rank, 6) literal lookup for MRR
    inv_t = F.lit(0.0)
    for i in range(k, 0, -1):
        inv_t = F.when(
            F.col(rank_col) == i, F.lit(round(1.0 / i, 6))
        ).otherwise(inv_t)
    per = d.groupBy(query_col).agg(
        F.sum(rel).cast("long").alias("hits"),
        F.sum(
            (rel.cast("double") * dcg_t)
            .cast("decimal(28,6)")
        )
        .cast("double")
        .alias("dcg"),
        F.max(F.when(rel == 1, inv_t)).alias("__mrr_raw"),
        F.max(F.col(n_relevant_col)).alias("__nrel"),
    )
    # ideal DCG: cumulative literal sums c_m = sum_{i<=m} t_i,
    # selected by min(n_relevant, k)
    cum, c = [], 0.0
    for i in range(1, k + 1):
        c = round(c + round(1.0 / math.log2(i + 1), 6), 6)
        cum.append(c)
    m = F.least(F.col("__nrel").cast("long"), F.lit(k))
    # chain top-down: the m >= k branch must be tested FIRST
    # (wrapping per-iteration .otherwise()s would invert the order)
    idcg = F.when(m >= k, F.lit(cum[k - 1]))
    for i in range(k - 1, 0, -1):
        idcg = idcg.when(m >= i, F.lit(cum[i - 1]))
    idcg = idcg.otherwise(F.lit(0.0))
    return per.select(
        F.col(query_col).alias("query"),
        F.lit(k).cast("int").alias("k"),
        "hits",
        F.round(
            F.col("hits").cast("double") / F.lit(float(k)), 6
        ).alias("precision_at_k"),
        F.coalesce("__mrr_raw", F.lit(0.0)).alias("mrr"),
        "dcg",
        F.when(
            idcg > 0, F.round(F.col("dcg") / idcg, 6)
        ).alias("ndcg"),
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 50,
) -> DataFrame:
    """Isotonic (PAV) recalibration map for a [0, 1] score against
    a 0/1 label (r10 — the standard fix when the reliability
    diagram from :func:`calibration_report` shows a miscalibrated
    scorer): per occupied score bin, the weighted isotonic fit of
    the positive rate.

    Instead of the sequential pool-adjacent-violators loop, the fit
    uses the closed-form minimax identity

        iso_k = max_{i ≤ k} min_{j ≥ k} avg(y over bins i..j)

    which is pure joins/aggregations over the BOUNDED bin frame
    (≤ n_bins² ranges, ≤ n_bins³/6 (range, k) pairs — trivial at
    any corpus size since the corpus collapses to the bin frame in
    ONE aggregation). Range averages are IEEE divisions of exact
    integer prefix sums, identical in the SQL replay; min/max over
    them are value-deterministic.

    Output: one row per occupied bin — ``(bin, n, rate_raw,
    rate_iso)`` with ``rate_iso`` monotone non-decreasing in
    ``bin``. The corpus-scale work is one map-side-combined
    groupBy."""
    nb = int(n_bins)
    base = df.select(
        F.least(
            F.floor(F.col(score_col) * nb).cast("int"), F.lit(nb - 1)
        ).alias("bin"),
        F.col(label_col).cast("long").alias("y"),
    ).filter(F.col("bin").isNotNull() & (F.col("bin") >= 0))
    bins = checkpoint(  # bounded; feeds 3 self-joins
        base.groupBy("bin").agg(
            F.count(F.lit(1)).cast("long").alias("w"),
            F.sum("y").cast("long").alias("s"),
        )
    )
    wnd = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = bins.select(
        "bin",
        "w",
        "s",
        F.sum("w").over(wnd).alias("cw"),
        F.sum("s").over(wnd).alias("cs"),
    )
    lo = pre.select(
        F.col("bin").alias("i"),
        (F.col("cw") - F.col("w")).alias("cw0"),
        (F.col("cs") - F.col("s")).alias("cs0"),
    )
    hi = pre.select(
        F.col("bin").alias("j"),
        F.col("cw").alias("cw1"),
        F.col("cs").alias("cs1"),
    )
    ranges = lo.join(hi, F.col("i") <= F.col("j")).select(
        "i",
        "j",
        (
            (F.col("cs1") - F.col("cs0")).cast("double")
            / (F.col("cw1") - F.col("cw0")).cast("double")
        ).alias("a"),
    )
    ks = bins.select(F.col("bin").alias("k"))
    inner = (
        ranges.join(
            ks, (F.col("i") <= F.col("k")) & (F.col("k") <= F.col("j"))
        )
        .groupBy("k", "i")
        .agg(F.min("a").alias("m"))
        .groupBy("k")
        .agg(F.max("m").alias("iso"))
    )
    return (
        bins.join(inner, bins.bin == inner.k)
        .select(
            "bin",
            F.col("w").alias("n"),
            F.round(
                F.col("s").cast("double") / F.col("w").cast("double"), 6
            ).alias("rate_raw"),
            F.round("iso", 6).alias("rate_iso"),
        )
    )


def fairness_report(
    df: DataFrame,
    group_col: str,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Group-fairness audit of a binary classifier (r12b — the
    governance gate next to the privacy family: Feldman 2015
    demographic parity, Hardt 2016 equalized odds / equal
    opportunity, all from ONE confusion-matrix groupBy): one row
    per group plus an ``__overall__`` row, with
    ``(group, n, n_pos_label, n_pos_pred, pred_rate, tpr, fpr,
    ppv)``. Demographic parity compares ``pred_rate`` across rows;
    equal opportunity compares ``tpr``; predictive parity ``ppv``.

    Labels/predictions are truthy ints (0/1); NULL label, pred, or
    group rows are dropped. Every rate is one IEEE division of
    exact counts, 6dp-rounded; undefined rates (no positives / no
    predicted positives in a group) are NULL rather than 0 — a
    silent 0 reads as a catastrophic gap.

    Plan: ONE map-side-combined groupBy over the group key plus a
    grand-total aggregate unioned in. No join, no window.
    """
    g = F.col(group_col).cast("string")
    y = F.col(label_col).cast("int")
    p = F.col(pred_col).cast("int")
    base = df.select(
        g.alias("__g"), y.alias("__y"), p.alias("__p")
    ).where(g.isNotNull() & y.isNotNull() & p.isNotNull())

    def aggs():
        return [
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__y").cast("long").alias("np_l"),
            F.sum("__p").cast("long").alias("np_p"),
            F.sum(F.col("__y") * F.col("__p")).cast("long").alias(
                "tp"
            ),
            F.sum((1 - F.col("__y")) * F.col("__p"))
            .cast("long")
            .alias("fp"),
        ]

    per = base.groupBy("__g").agg(*aggs())
    tot = base.agg(*aggs()).select(
        F.lit("__overall__").alias("__g"), "*"
    )
    u = per.unionByName(tot)
    n = F.col("n").cast("double")
    npl = F.col("np_l").cast("double")
    npp = F.col("np_p").cast("double")
    return u.select(
        F.col("__g").alias("group"),
        "n",
        F.col("np_l").alias("n_pos_label"),
        F.col("np_p").alias("n_pos_pred"),
        F.round(npp / n, 6).alias("pred_rate"),
        F.when(
            F.col("np_l") > 0,
            F.round(F.col("tp").cast("double") / npl, 6),
        ).alias("tpr"),
        F.when(
            F.col("n") > F.col("np_l"),
            F.round(
                F.col("fp").cast("double") / (n - npl), 6
            ),
        ).alias("fpr"),
        F.when(
            F.col("np_p") > 0,
            F.round(F.col("tp").cast("double") / npp, 6),
        ).alias("ppv"),
    )


def label_issues(
    df: DataFrame,
    id_col: str,
    label_col: str,
    prob_cols: "dict[str, str]",
) -> DataFrame:
    """Confident-learning label-noise detection (r12b — Northcutt
    et al. 2021's cleanlab rule, the standard pre-training label
    audit: a row is a probable MISLABEL when some OTHER class's
    predicted probability clears that class's self-confidence
    threshold t_j = mean prob_j among rows labeled j). Returns the
    flagged rows only: ``(id, label, suggested, p_label,
    p_suggested)``.

    ``prob_cols`` maps each class value to its probability column
    (a frozen classifier's per-class scores). Probabilities are
    6dp-quantized; the threshold test runs as the EXACT integer
    cross-product p6_j·n_j ≥ S_j (no division), and the suggested
    class is the qualifying argmax by (p6 DESC, class ASC) — fully
    deterministic. Rows whose own label column is NULL, or with any
    NULL probability, are dropped. A class with no labeled rows
    never qualifies (its threshold is undefined, not zero).

    Plan shape (100 TB): ONE map-side-combined aggregate builds all
    K thresholds (conditional sums, no groupBy), broadcast back as
    a one-row cross join; the flag itself is a map-only Column
    program. No window, no self-join.
    """
    if not prob_cols:
        raise ValueError("label_issues: prob_cols must be non-empty")
    classes = sorted(prob_cols)
    _DI = "decimal(38,0)"
    lab = F.col(label_col).cast("string")
    sel = [F.col(id_col).alias("__id"), lab.alias("__lab")]
    # rows labeled outside the class set carry no threshold to
    # test against — dropped, like NULLs
    cond = lab.isNotNull() & lab.isin(classes)
    for k in classes:
        c = F.col(prob_cols[k])
        cond = cond & c.isNotNull()
        sel.append(
            F.round(c.cast("double") * 1e6, 0)
            .cast(_DI)
            .alias(f"__p_{k}")
        )
    base = df.select(*sel).where(cond)
    taggs = []
    for k in classes:
        is_k = (F.col("__lab") == k).cast(_DI)
        taggs.append(
            F.coalesce(
                F.sum(F.when(F.col("__lab") == k, F.col(f"__p_{k}"))),
                F.lit(0).cast(_DI),
            ).alias(f"__ts_{k}")
        )
        taggs.append(F.sum(is_k).alias(f"__tn_{k}"))
    thr = base.agg(*taggs)
    j = base.crossJoin(F.broadcast(thr))
    structs = []
    for rank, k in enumerate(classes):
        q = (
            (F.col(f"__tn_{k}") > 0)
            & (
                F.col(f"__p_{k}") * F.col(f"__tn_{k}")
                >= F.col(f"__ts_{k}")
            )
        ).cast("int")
        structs.append(
            F.struct(
                q.alias("q"),
                F.col(f"__p_{k}").alias("p6"),
                F.lit(-rank).alias("nr"),
                F.lit(k).alias("cls"),
            )
        )
    best = F.greatest(*structs) if len(structs) > 1 else structs[0]
    p_label = F.coalesce(
        *[
            F.when(F.col("__lab") == k, F.col(f"__p_{k}"))
            for k in classes
        ]
    )
    flagged = j.select(
        F.col("__id").alias(id_col),
        F.col("__lab").alias("label"),
        best.alias("__b"),
        p_label.alias("__pl"),
    ).where(
        (F.col("__b.q") == 1) & (F.col("__b.cls") != F.col("label"))
    )
    return flagged.select(
        id_col,
        "label",
        F.col("__b.cls").alias("suggested"),
        F.round(F.col("__pl").cast("double") / 1e6, 6).alias(
            "p_label"
        ),
        F.round(F.col("__b.p6").cast("double") / 1e6, 6).alias(
            "p_suggested"
        ),
    )
