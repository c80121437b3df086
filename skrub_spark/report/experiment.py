"""Experimentation statistics (r9c): CUPED variance reduction,
covariate balance, difference-in-differences.

The three workhorses of a production experimentation stack, next to
the significance tests (abtest.py, permutation.py, multitest.py):

- ``cuped_adjust``: CUPED (Deng/Xu/Kohavi/Walker 2013) — shrink
  metric variance with a pre-experiment covariate,
  Y' = Y − θ(X − X̄), θ = cov(X,Y)/var(X). The industry-standard
  sensitivity booster: same expectation, (1−ρ²)× the variance.
- ``covariate_balance``: standardized mean difference per
  covariate, |SMD| > 0.1 being the conventional imbalance flag —
  the pre-test every quasi-experiment runs.
- ``did_estimate``: the 2×2 difference-in-differences estimator
  (post−pre for treated) − (post−pre for control).

Exactness discipline (the repo's moment rule): every mean/cov/var
is assembled from exact DECIMAL sums of DECIMAL(18,6)-cast inputs;
doubles appear only in the final handful of IEEE ops (divides, one
sqrt for SMD), each 6dp-rounded — so all three replay bit-identically
in SQL. All outputs are bounded per-group frames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60

_D = "decimal(18,6)"
_D38 = "decimal(38,12)"


def cuped_adjust(
    df: DataFrame,
    metric: Column | str,
    covariate: Column | str,
    variant: Column | str,
) -> DataFrame:
    """One-row CUPED readout for a two-variant experiment:
    ``(variant_a, variant_b, n_a, n_b, theta, mean_a, mean_b,
    lift_raw, adj_a, adj_b, lift_cuped, var_reduction_pct)``.

    θ is computed on the POOLED sample (the standard choice — using
    a per-variant θ would bias the estimate), adjusted means are
    mean(Y) − θ·(mean(X) − X̄_pool) per variant, and
    var_reduction_pct = ρ²·100 (the theoretical variance cut,
    = corr(X,Y)² on the pooled sample).
    """
    y = F.col(metric) if isinstance(metric, str) else metric
    x = F.col(covariate) if isinstance(covariate, str) else covariate
    g = F.col(variant) if isinstance(variant, str) else variant
    base = df.select(
        g.cast("string").alias("g"),
        (y.cast(_D) * 1000000).cast("long").alias("y6"),
        (x.cast(_D) * 1000000).cast("long").alias("x6"),
    ).filter(F.col("y6").isNotNull() & F.col("x6").isNotNull())
    base = base.persist()
    d0 = "decimal(38,0)"
    pooled = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("g").cast("long").alias("__ng"),
        F.sum(F.col("y6").cast(d0)).alias("sy"),
        F.sum(F.col("x6").cast(d0)).alias("sx"),
        F.sum(F.col("x6").cast(d0) * F.col("y6").cast(d0)).alias("sxy"),
        F.sum(F.col("x6").cast(d0) * F.col("x6").cast(d0)).alias("sxx"),
        F.sum(F.col("y6").cast(d0) * F.col("y6").cast(d0)).alias("syy"),
    )
    nn6 = F.col("n").cast("double") * F.lit(1000000.0)
    # θ = (nΣxy − ΣxΣy)/(nΣxx − Σx²) in micro units — the 10¹²
    # scaling cancels. Exact DECIMAL(38,0) integers, one IEEE divide.
    theta = F.round(
        (
            F.col("n").cast(d0) * F.col("sxy")
            - F.col("sx") * F.col("sy")
        ).cast("double")
        / (
            F.col("n").cast(d0) * F.col("sxx")
            - F.col("sx") * F.col("sx")
        ).cast("double"),
        6,
    )
    per_v = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("nv"),
        F.sum(F.col("y6").cast(d0)).alias("syv"),
        F.sum(F.col("x6").cast(d0)).alias("sxv"),
    )
    a = per_v.orderBy("g").limit(1).select(
        F.col("g").alias("variant_a"),
        F.col("nv").alias("n_a"),
        F.col("syv").alias("sy_a"),
        F.col("sxv").alias("sx_a"),
    )
    b = per_v.orderBy(F.col("g").desc()).limit(1).select(
        F.col("g").alias("variant_b"),
        F.col("nv").alias("n_b"),
        F.col("syv").alias("sy_b"),
        F.col("sxv").alias("sx_b"),
    )
    # ADVICE r9 (same pattern as permutation_test_means): the
    # two-variant contract demands EXACTLY two labels; the min/max
    # label selection would silently drop middle variants. The
    # assert rides inside theta so Catalyst can't prune it.
    row = (
        a.crossJoin(b)
        .crossJoin(F.broadcast(pooled))
        .withColumn(
            "theta",
            F.when(
                F.assert_true(
                    F.col("__ng") == 2,
                    F.concat(
                        F.lit(
                            "cuped_adjust requires exactly 2 variant "
                            "labels, got "
                        ),
                        F.col("__ng").cast("string"),
                    ),
                ).isNull(),
                theta,
            ),
        )
        .drop("__ng")
    )
    mean_a = F.round(
        F.col("sy_a").cast("double")
        / (F.col("n_a").cast("double") * F.lit(1000000.0)),
        6,
    )
    mean_b = F.round(
        F.col("sy_b").cast("double")
        / (F.col("n_b").cast("double") * F.lit(1000000.0)),
        6,
    )
    xbar = F.round(F.col("sx").cast("double") / nn6, 6)
    mx_a = F.round(
        F.col("sx_a").cast("double")
        / (F.col("n_a").cast("double") * F.lit(1000000.0)),
        6,
    )
    mx_b = F.round(
        F.col("sx_b").cast("double")
        / (F.col("n_b").cast("double") * F.lit(1000000.0)),
        6,
    )
    adj_a = F.round(mean_a - F.col("theta") * (mx_a - xbar), 6)
    adj_b = F.round(mean_b - F.col("theta") * (mx_b - xbar), 6)
    cov_num = (
        F.col("n").cast(d0) * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double")
    varx = (
        F.col("n").cast(d0) * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    vary = (
        F.col("n").cast(d0) * F.col("syy") - F.col("sy") * F.col("sy")
    ).cast("double")
    rho2 = F.when(
        (varx > 0) & (vary > 0), cov_num * cov_num / (varx * vary)
    )
    return row.select(
        "variant_a",
        "variant_b",
        "n_a",
        "n_b",
        "theta",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        F.round(mean_a - mean_b, 6).alias("lift_raw"),
        adj_a.alias("adj_a"),
        adj_b.alias("adj_b"),
        F.round(adj_a - adj_b, 6).alias("lift_cuped"),
        F.round(rho2 * 100, 6).alias("var_reduction_pct"),
    )


def covariate_balance(
    df: DataFrame,
    covariates: list[str],
    variant: Column | str,
    *,
    flag_threshold: float = 0.1,
) -> DataFrame:
    """Standardized mean difference per covariate between the two
    variants: ``(covariate, n_a, n_b, mean_a, mean_b, smd,
    imbalanced)`` with SMD = (m_a − m_b)/√((v_a + v_b)/2) (pooled-
    variance convention, sample variances with n−1). NULL smd for
    degenerate (zero-variance) covariates.

    One pass: the covariate list unpivots into (name, value) rows
    map-side, then a single map-side-combined groupBy computes all
    moments for all covariates at once.
    """
    g = F.col(variant) if isinstance(variant, str) else variant
    stack = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("cov"),
                    F.col(c).cast(_D).alias("val"),
                )
                for c in covariates
            ]
        )
    ).alias("e")
    base = (
        df.select(g.cast("string").alias("g"), stack)
        .select(
            "g",
            F.col("e.cov").alias("cov"),
            (F.col("e.val") * 1000000).cast("long").alias("v6"),
        )
        .filter(F.col("v6").isNotNull())
    )
    d0 = "decimal(38,0)"
    mom = base.groupBy("cov", "g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v6").cast(d0)).alias("s"),
        F.sum(F.col("v6").cast(d0) * F.col("v6").cast(d0)).alias("s2"),
    )
    a = mom.withColumnRenamed("g", "ga")
    b = mom.select(
        F.col("cov").alias("cov2"),
        F.col("g").alias("gb"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
        F.col("s2").alias("s2b"),
    )
    pairs = a.join(
        b, (F.col("cov") == F.col("cov2")) & (F.col("ga") < F.col("gb"))
    )
    m_a = F.round(
        F.col("s").cast("double")
        / (F.col("n").cast("double") * F.lit(1000000.0)),
        6,
    )
    m_b = F.round(
        F.col("sb").cast("double")
        / (F.col("nb").cast("double") * F.lit(1000000.0)),
        6,
    )
    # sample variance (original units): exact micro² integer moment
    # numerator, two IEEE divides mirrored in the oracle.
    v_a = (
        F.col("n").cast(d0) * F.col("s2") - F.col("s") * F.col("s")
    ).cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1).cast("double")
    ) / F.lit(1e12)
    v_b = (
        F.col("nb").cast(d0) * F.col("s2b") - F.col("sb") * F.col("sb")
    ).cast("double") / (
        F.col("nb").cast("double") * (F.col("nb") - 1).cast("double")
    ) / F.lit(1e12)
    denom = F.sqrt((v_a + v_b) / F.lit(2.0))
    smd = F.when(denom > 0, F.round((m_a - m_b) / denom, 6))
    return pairs.select(
        "cov",
        F.col("n").alias("n_a"),
        F.col("nb").alias("n_b"),
        m_a.alias("mean_a"),
        m_b.alias("mean_b"),
        smd.alias("smd"),
        F.when(
            smd.isNotNull(), F.abs(smd) > F.lit(float(flag_threshold))
        ).alias("imbalanced"),
    ).withColumnRenamed("cov", "covariate")


def did_estimate(
    df: DataFrame,
    metric: Column | str,
    treated: Column,
    post: Column,
) -> DataFrame:
    """2×2 difference-in-differences:
    ``(n, mean_t_pre, mean_t_post, mean_c_pre, mean_c_post,
    diff_treated, diff_control, did)`` — each mean an exact-sum
    ratio, the estimator three IEEE subtractions of 6dp values.
    ``treated``/``post`` are boolean Columns.
    """
    y = F.col(metric) if isinstance(metric, str) else metric
    base = df.select(
        y.cast(_D).alias("y"),
        treated.cast("boolean").alias("t"),
        post.cast("boolean").alias("p"),
    ).filter(
        F.col("y").isNotNull()
        & F.col("t").isNotNull()
        & F.col("p").isNotNull()
    )

    def cell(tv, pv):
        cond = (F.col("t") == tv) & (F.col("p") == pv)
        return F.round(
            F.sum(F.when(cond, F.col("y"))).cast("double")
            / F.sum(cond.cast("long")).cast("double"),
            6,
        )

    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cell(True, False).alias("mean_t_pre"),
        cell(True, True).alias("mean_t_post"),
        cell(False, False).alias("mean_c_pre"),
        cell(False, True).alias("mean_c_post"),
    )
    dt = F.col("mean_t_post") - F.col("mean_t_pre")
    dc = F.col("mean_c_post") - F.col("mean_c_pre")
    return agg.select(
        "n",
        "mean_t_pre",
        "mean_t_post",
        "mean_c_pre",
        "mean_c_post",
        F.round(dt, 6).alias("diff_treated"),
        F.round(dc, 6).alias("diff_control"),
        F.round(dt - dc, 6).alias("did"),
    )


def jackknife_ratio_se(
    df: DataFrame,
    numerator: Column | str,
    denominator: Column | str,
    key: Column | str,
    *,
    n_buckets: int = 20,
    salt: str = "jk",
) -> DataFrame:
    """Delete-one-bucket jackknife standard error for a RATIO metric
    (revenue per session, clicks per user — metrics whose
    denominator is itself random, where the naive per-row variance
    is wrong). The standard production recipe: entities hash into
    ``n_buckets`` content-addressed buckets (md5 — replayable
    anywhere), the ratio is recomputed leaving each bucket out, and
    SE² = (G−1)/G · Σ (r_(−g) − r̄)².

    Determinism: bucket sums are exact DECIMAL; each leave-one-out
    ratio is ONE IEEE division (6dp); the Σ over the G-row frame
    runs as an ORDERED cumulative window (bucket order), not a
    groupBy of doubles — float summation order is pinned, so the
    report replays bit-identically in SQL (battery query
    ``jackknife_ratio``).

    Returns one row ``(n_rows, n_buckets, ratio, jk_se)``.
    """
    num = F.col(numerator) if isinstance(numerator, str) else numerator
    den = F.col(denominator) if isinstance(denominator, str) else denominator
    k = F.col(key) if isinstance(key, str) else key
    bucket = F.pmod(h60(k.cast("string"), salt), F.lit(int(n_buckets)))
    base = df.select(
        bucket.alias("g"),
        num.cast(_D).alias("x"),
        den.cast(_D).alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    per_g = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    tot = per_g.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("sx").alias("tx"),
        F.sum("sy").alias("ty"),
        F.count(F.lit(1)).cast("long").alias("gn"),
    )
    from pyspark.sql import Window

    loo = per_g.crossJoin(F.broadcast(tot)).select(
        "g",
        "nt",
        "gn",
        F.round(F.col("tx").cast("double") / F.col("ty").cast("double"), 6)
        .alias("ratio"),
        F.round(
            (F.col("tx") - F.col("sx")).cast("double")
            / (F.col("ty") - F.col("sy")).cast("double"),
            6,
        ).alias("r_loo"),
    )
    # ordered running mean/SS over the bounded G-row frame: float
    # summation order pinned by bucket id
    w = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stats = loo.select(
        "nt",
        "gn",
        "ratio",
        "g",
        "r_loo",
        F.sum("r_loo").over(wall).alias("sr"),
    ).withColumn(
        "rbar", F.col("sr") / F.col("gn").cast("double")
    )
    dev = stats.select(
        "nt",
        "gn",
        "ratio",
        "g",
        ((F.col("r_loo") - F.col("rbar"))
         * (F.col("r_loo") - F.col("rbar"))).alias("d2"),
    )
    agg = dev.select(
        "nt",
        "gn",
        "ratio",
        F.sum("d2").over(
            Window.orderBy("g").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("ssd"),
        F.row_number().over(Window.orderBy("g")).alias("rn"),
    ).where(F.col("rn") == 1)
    return agg.select(
        F.col("nt").alias("n_rows"),
        F.col("gn").alias("n_buckets"),
        "ratio",
        F.round(
            F.sqrt(
                (F.col("gn") - 1).cast("double")
                / F.col("gn").cast("double")
                * F.col("ssd")
            ),
            6,
        ).alias("jk_se"),
    )


def cmh_stratified(
    df: DataFrame,
    stratum_col: str,
    variant_col: str,
    converted_col: str,
) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified 2x2 analysis (r10 — the
    confounder-adjusted companion to the pooled z-test in
    report/abtest.py): one 2x2 table per stratum, pooled into the
    Mantel-Haenszel odds ratio OR_MH = Σ(a_i d_i/n_i)/Σ(b_i c_i/n_i)
    and the CMH χ² = (Σa_i − ΣE_i)²/ΣV_i with
    E_i = r1_i c1_i/n_i and V_i = r1 r2 c1 c2 / (n_i²(n_i−1)) —
    the right test when the variant split varies by stratum
    (Simpson's-paradox insurance).

    Returns one row: ``(variant_a, variant_b, n_strata, n_a, n_b,
    conv_a, conv_b, or_mh, chi2)``. Exactly two variant labels
    (embedded assert). Per-stratum terms are fixed-order IEEE over
    exact counts, rounded 6dp, DECIMAL-summed — order-independent;
    a zero denominator (no discordant mass) yields NULL or_mh."""
    base = df.select(
        F.col(stratum_col).cast("string").alias("s"),
        F.col(variant_col).cast("string").alias("g"),
        F.col(converted_col).cast("boolean").alias("c"),
    ).filter(F.col("g").isNotNull())
    labs = base.agg(
        F.countDistinct("g").cast("long").alias("__ng"),
        F.min("g").alias("ga"),
        F.max("g").alias("gb"),
    )
    cells = (
        base.crossJoin(F.broadcast(labs))
        .groupBy("s")
        .agg(
            F.max("__ng").alias("__ng"),
            F.sum(
                F.when((F.col("g") == F.col("ga")) & F.col("c"), 1).otherwise(0)
            ).cast("long").alias("a"),
            F.sum(
                F.when((F.col("g") == F.col("ga")) & ~F.col("c"), 1).otherwise(0)
            ).cast("long").alias("b"),
            F.sum(
                F.when((F.col("g") == F.col("gb")) & F.col("c"), 1).otherwise(0)
            ).cast("long").alias("cc"),
            F.sum(
                F.when((F.col("g") == F.col("gb")) & ~F.col("c"), 1).otherwise(0)
            ).cast("long").alias("d"),
        )
    )
    a = F.col("a").cast("double")
    b = F.col("b").cast("double")
    c = F.col("cc").cast("double")
    dd = F.col("d").cast("double")
    n = a + b + c + dd
    r1 = a + b
    r2 = c + dd
    c1 = a + c
    c2 = b + dd
    e = r1 * c1 / n
    v = F.when(
        n > 1, r1 * r2 * c1 * c2 / (n * n * (n - F.lit(1.0)))
    ).otherwise(F.lit(0.0))
    terms = cells.where((F.col("a") + F.col("b") > 0) & (F.col("cc") + F.col("d") > 0)).select(
        F.round(a * dd / n, 6).cast("decimal(18,6)").alias("num"),
        F.round(b * c / n, 6).cast("decimal(18,6)").alias("den"),
        F.round(a - e, 6).cast("decimal(18,6)").alias("oe"),
        F.round(v, 6).cast("decimal(18,6)").alias("vv"),
        F.col("a").alias("ai"),
        F.col("cc").alias("ci"),
        (F.col("a") + F.col("b")).alias("nai"),
        (F.col("cc") + F.col("d")).alias("nbi"),
    )
    agg = (
        terms.agg(
            F.count(F.lit(1)).cast("long").alias("n_strata"),
            F.sum("nai").cast("long").alias("n_a"),
            F.sum("nbi").cast("long").alias("n_b"),
            F.sum("ai").cast("long").alias("conv_a"),
            F.sum("ci").cast("long").alias("conv_b"),
            F.sum("num").cast("double").alias("num_s"),
            F.sum("den").cast("double").alias("den_s"),
            F.sum("oe").cast("double").alias("oe_s"),
            F.sum("vv").cast("double").alias("v_s"),
        )
        .crossJoin(F.broadcast(labs))
    )
    # Gate EVERY output column on the exactly-2-labels assert — if it
    # rode on a single column, Catalyst column pruning could drop the
    # asserted column and a >2-label misuse would silently return
    # min/max-label results (r10 advice item).
    def _gated(col):
        return F.when(
            F.assert_true(
                F.col("__ng") == 2,
                F.concat(
                    F.lit(
                        "cmh_stratified requires exactly 2 variant labels, got "
                    ),
                    F.col("__ng").cast("string"),
                ),
            ).isNull(),
            col,
        )

    return agg.select(
        _gated(F.col("ga")).alias("variant_a"),
        _gated(F.col("gb")).alias("variant_b"),
        _gated(F.col("n_strata")).alias("n_strata"),
        _gated(F.col("n_a")).alias("n_a"),
        _gated(F.col("n_b")).alias("n_b"),
        _gated(F.col("conv_a")).alias("conv_a"),
        _gated(F.col("conv_b")).alias("conv_b"),
        _gated(
            F.when(
                F.col("den_s") > 0,
                F.round(F.col("num_s") / F.col("den_s"), 6),
            )
        ).alias("or_mh"),
        _gated(
            F.when(
                F.col("v_s") > 0,
                F.round(F.col("oe_s") * F.col("oe_s") / F.col("v_s"), 6),
            )
        ).alias("chi2"),
    )


def psm_match(
    df: DataFrame,
    id_col: str,
    treat_col: str,
    score_col: str,
    *,
    caliper: float,
) -> DataFrame:
    """Propensity-score matching (r11 — the missing member of the
    causal toolkit next to CUPED/DiD/covariate-balance: Rosenbaum &
    Rubin 1983): match every TREATED unit to its nearest CONTROL by
    propensity score, within a caliper, WITH replacement (the
    deterministic, embarrassingly-parallel variant; greedy
    without-replacement is order-dependent by construction). Ties
    break to the LOWER control id.

    Exactness: scores quantize to integer micro (round 6dp x 1e6) —
    distances are exact integers and the argmin replays in SQL
    (battery oracle ``psm_pairs``). The score itself should come
    from a FROZEN model (the quality-classifier discipline): an
    iterative logistic fit is rows-only by nature, but scoring and
    matching are exact.

    100 TB shape: candidates come from score-BUCKET blocking
    (bucket width = caliper, treated side explodes to its 3
    neighboring buckets) — an equi-join, never all-pairs; the
    argmin is a map-side-combined min(struct). Returns one row per
    treated unit: ``(treated_id, control_id, t_score, c_score,
    dist)`` with NULL control columns when nothing lies within the
    caliper; a treated unit with a NULL score also keeps its row
    (t_score and all control columns NULL) rather than vanishing."""
    cal6 = int(round(float(caliper) * 1_000_000))
    if cal6 <= 0:
        raise ValueError("psm_match: caliper must be > 0")
    s6 = (
        F.round(F.col(score_col).cast("double"), 6).cast("decimal(18,6)")
        * 1_000_000
    ).cast("long")
    base = df.select(
        F.col(id_col).cast("long").alias("uid"),
        F.col(treat_col).cast("boolean").alias("t"),
        s6.alias("s6"),
    )
    # NULL-score TREATED units stay (one output row per treated
    # unit, all non-id columns NULL — ADVICE r11: the old isNotNull
    # filter silently dropped them, contradicting the docstring);
    # NULL-score controls can never match and are dropped.
    treated = base.where("t").select(
        F.col("uid").alias("treated_id"), F.col("s6").alias("ts6")
    )
    control = base.where(~F.col("t") & F.col("s6").isNotNull()).select(
        F.col("uid").alias("control_id"),
        F.col("s6").alias("cs6"),
        F.expr(f"s6 DIV {cal6}").alias("__b"),
    )
    cand = treated.where(F.col("ts6").isNotNull()).select(
        "treated_id",
        "ts6",
        F.explode(
            F.array(
                F.expr(f"ts6 DIV {cal6} - 1"),
                F.expr(f"ts6 DIV {cal6}"),
                F.expr(f"ts6 DIV {cal6} + 1"),
            )
        ).alias("__b"),
    ).join(control, "__b")
    best = (
        cand.withColumn("__d", F.abs(F.col("ts6") - F.col("cs6")))
        .where(F.col("__d") <= cal6)
        .groupBy("treated_id", "ts6")
        .agg(
            F.min(
                F.struct(
                    F.col("__d").alias("d"),
                    F.col("control_id").alias("cid"),
                    F.col("cs6").alias("cs"),
                )
            ).alias("m")
        )
    )
    sc = F.lit(1_000_000.0)
    return (
        treated.join(best, ["treated_id", "ts6"], "left")
        .select(
            "treated_id",
            F.col("m.cid").alias("control_id"),
            F.round(F.col("ts6").cast("double") / sc, 6).alias("t_score"),
            F.round(F.col("m.cs").cast("double") / sc, 6).alias("c_score"),
            F.round(F.col("m.d").cast("double") / sc, 6).alias("dist"),
        )
    )


def uplift_curve(
    df: DataFrame,
    score_col: str,
    treatment_col: str,
    outcome_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Qini / uplift curve by score decile (r12b — the model-eval
    artifact for TREATMENT-EFFECT models, the uplift analogue of
    ``gains_table``: Radcliffe 2007's Qini curve is the standard
    acceptance gate before an uplift model picks who gets the
    costly intervention). One row per equal-frequency score bucket
    (``quantile_discretize``'s exact edge rule, best bucket first):

    - ``uplift_cum`` — cumulative treated outcome rate minus
      cumulative control outcome rate down to this bucket,
    - ``qini`` — Qini value Yt − Yc·Nt/Nc at this depth, computed
      as the single exact ratio (Yt·Nc − Yc·Nt)/Nc,
    - ``qini_random`` — the random-targeting diagonal at the same
      depth, (YT·NC − YC·NT)·n/(NC·N); ``qini − qini_random`` > 0
      is where the model beats random targeting.

    Rows with a NULL score, treatment, or outcome are dropped.
    Every count/sum is an exact DECIMAL(38,0) integer (outcomes are
    cast to long — binary or integer-valued outcomes; pre-quantize
    continuous outcomes upstream), so each reported rate is one
    IEEE division, 6dp-rounded. Buckets with no control (or no
    treated) exposure yield NULL uplift/qini rather than a
    convention.

    Plan shape (100 TB): the score histogram + distinct-value
    cumsum from ``quantile_discretize`` (bounded by distinct
    scores), one map-side-combined per-bucket groupBy, and windows
    over the ``n_bins``-row frame only. No corpus-scale window, no
    driver loop.
    """
    from pyspark.sql import Window

    from ..operators.winsorize import quantile_discretize

    _DI = "decimal(38,0)"
    s = F.col(score_col)
    t = F.col(treatment_col).cast("int")
    y = F.col(outcome_col).cast("long")
    base = df.select(
        s.alias("__s"), t.alias("__t"), y.alias("__y")
    ).where(s.isNotNull() & t.isNotNull() & y.isNotNull())
    binned = quantile_discretize(base, "__s", n_bins, "bucket")
    per = binned.groupBy("bucket").agg(
        F.sum(F.col("__t").cast(_DI)).alias("nt"),
        F.sum((1 - F.col("__t")).cast(_DI)).alias("nc"),
        F.sum(
            F.when(F.col("__t") == 1, F.col("__y"))
            .otherwise(0)
            .cast(_DI)
        ).alias("yt"),
        F.sum(
            F.when(F.col("__t") == 0, F.col("__y"))
            .otherwise(0)
            .cast(_DI)
        ).alias("yc"),
    )
    tot = per.agg(
        F.sum("nt").alias("tnt"),
        F.sum("nc").alias("tnc"),
        F.sum("yt").alias("tyt"),
        F.sum("yc").alias("tyc"),
    )
    wd = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.select(
        "bucket",
        "nt",
        "nc",
        "yt",
        "yc",
        F.sum("nt").over(wd).alias("cnt"),
        F.sum("nc").over(wd).alias("cnc"),
        F.sum("yt").over(wd).alias("cyt"),
        F.sum("yc").over(wd).alias("cyc"),
    ).crossJoin(F.broadcast(tot))
    cnt, cnc = F.col("cnt"), F.col("cnc")
    cyt, cyc = F.col("cyt"), F.col("cyc")
    tnt, tnc = F.col("tnt"), F.col("tnc")
    tyt, tyc = F.col("tyt"), F.col("tyc")
    n_all = tnt + tnc
    return cum.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("nt").cast("long").alias("n_t"),
        F.col("nc").cast("long").alias("n_c"),
        F.col("yt").cast("long").alias("y_t"),
        F.col("yc").cast("long").alias("y_c"),
        cnt.cast("long").alias("cum_n_t"),
        cnc.cast("long").alias("cum_n_c"),
        cyt.cast("long").alias("cum_y_t"),
        cyc.cast("long").alias("cum_y_c"),
        F.when(
            (cnt > 0) & (cnc > 0),
            F.round(
                cyt.cast("double") / cnt.cast("double")
                - cyc.cast("double") / cnc.cast("double"),
                6,
            ),
        ).alias("uplift_cum"),
        F.when(
            cnc > 0,
            F.round(
                (cyt * cnc - cyc * cnt).cast("double")
                / cnc.cast("double"),
                6,
            ),
        ).alias("qini"),
        F.when(
            (tnc > 0) & (n_all > 0),
            F.round(
                ((tyt * tnc - tyc * tnt) * (cnt + cnc)).cast("double")
                / (tnc * n_all).cast("double"),
                6,
            ),
        ).alias("qini_random"),
    )


def ipw_ate(
    df: DataFrame,
    treatment_col: str,
    outcome_col: str,
    propensity_col: str,
    *,
    trim: float = 0.01,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect with
    Hajek (self-normalized) weighting and symmetric propensity
    trimming (r12b — the estimator PSM's matched pairs
    approximate; IPW uses EVERY unit, reweighted by 1/e(x), and is
    the standard observational-ATE baseline, Horvitz-Thompson 1952
    / Hirano-Imbens 2001). One output row: ``(n, n_treated,
    n_control, n_trimmed, mean_treated, mean_control, ate)``.

    Units with propensity outside [trim, 1−trim] are excluded and
    counted in ``n_trimmed`` (the standard overlap guard — weights
    explode as e→0/1); NULL treatment/outcome/propensity rows are
    dropped. Exactness: propensities are 6dp-quantized (the score
    grain every frozen classifier in this repo emits), weights
    become the exact integers round(1e12/e6)/round(1e12/(1e6−e6))
    in DECIMAL(38,0), outcomes integer-valued (pre-quantize
    continuous metrics upstream), so each Hajek mean is ONE IEEE
    division of exact integer sums and the ATE is their 6dp-rounded
    difference — bit-replayable in HUGEINT SQL.

    Plan shape (100 TB): a single map-side-combined aggregate over
    the filtered frame; no join, no window, no driver loop.
    """
    if not (0 <= float(trim) < 0.5):
        raise ValueError("ipw_ate: trim must be in [0, 0.5)")
    _DI = "decimal(38,0)"
    t = F.col(treatment_col).cast("int")
    y = F.col(outcome_col).cast("long")
    e6 = F.round(F.col(propensity_col).cast("double") * 1e6, 0).cast(
        "long"
    )
    lo = int(round(float(trim) * 1_000_000))
    hi = 1_000_000 - lo
    base = df.select(
        t.alias("__t"), y.alias("__y"), e6.alias("__e6")
    ).where(t.isNotNull() & y.isNotNull() & e6.isNotNull())
    kept = (F.col("__e6") >= lo) & (F.col("__e6") <= hi)
    wt = F.round(F.lit(1e12) / F.col("__e6"), 0).cast(_DI)
    wc = F.round(
        F.lit(1e12) / (F.lit(1_000_000) - F.col("__e6")), 0
    ).cast(_DI)
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias(
            "n_trimmed"
        ),
        F.sum(
            F.when(kept & (F.col("__t") == 1), 1).otherwise(0)
        ).cast("long").alias("n_treated"),
        F.sum(
            F.when(kept & (F.col("__t") == 0), 1).otherwise(0)
        ).cast("long").alias("n_control"),
        F.sum(
            F.when(kept & (F.col("__t") == 1), wt).otherwise(
                F.lit(0).cast(_DI)
            )
        ).alias("swt"),
        F.sum(
            F.when(
                kept & (F.col("__t") == 1),
                wt * F.col("__y").cast(_DI),
            ).otherwise(F.lit(0).cast(_DI))
        ).alias("swty"),
        F.sum(
            F.when(kept & (F.col("__t") == 0), wc).otherwise(
                F.lit(0).cast(_DI)
            )
        ).alias("swc"),
        F.sum(
            F.when(
                kept & (F.col("__t") == 0),
                wc * F.col("__y").cast(_DI),
            ).otherwise(F.lit(0).cast(_DI))
        ).alias("swcy"),
    )
    mt = F.when(
        F.col("swt") > 0,
        F.round(
            F.col("swty").cast("double") / F.col("swt").cast("double"),
            6,
        ),
    )
    mc = F.when(
        F.col("swc") > 0,
        F.round(
            F.col("swcy").cast("double") / F.col("swc").cast("double"),
            6,
        ),
    )
    return agg.select(
        F.col("n_all").alias("n"),
        "n_treated",
        "n_control",
        "n_trimmed",
        mt.alias("mean_treated"),
        mc.alias("mean_control"),
        F.round(mt - mc, 6).alias("ate"),
    )


def aipw_ate(
    df: DataFrame,
    treatment_col: str,
    outcome_col: str,
    propensity_col: str,
    m1_col: str,
    m0_col: str,
    *,
    trim: float = 0.01,
) -> DataFrame:
    """Doubly-robust (AIPW) average treatment effect (r12b —
    Robins-Rotnitzky-Zhao 1994; the estimator that stays consistent
    if EITHER the propensity model OR the outcome models are right,
    completing the causal family next to ``psm_match`` and
    ``ipw_ate``). Inputs are scored frames: a propensity e(x) and
    the two outcome-model predictions m1(x), m0(x) (from any frozen
    scorer; 6dp grain). One output row: ``(n, n_trimmed, ate, se,
    ci_lo, ci_hi)`` with the influence-function standard error and
    a 95% normal CI.

    Per-unit pseudo-outcome
      ψ = m1 − m0 + T(Y − m1)/e − (1−T)(Y − m0)/(1−e)
    is evaluated as a FIXED per-row IEEE chain on the 6dp-quantized
    inputs, then 6dp-quantized itself — so the corpus sums Σψ and
    Σψ² are exact DECIMAL(38,0) integers (order-independent), and
    ate/se are single IEEE chains off them. Units with e outside
    [trim, 1−trim] are dropped into ``n_trimmed``; NULL inputs are
    dropped.

    Plan shape (100 TB): ONE map-side-combined aggregate — no
    join, no window, no driver loop.
    """
    if not (0 <= float(trim) < 0.5):
        raise ValueError("aipw_ate: trim must be in [0, 0.5)")
    _DI = "decimal(38,0)"
    t = F.col(treatment_col).cast("int")
    y = F.col(outcome_col).cast("double")
    e6 = F.round(F.col(propensity_col).cast("double") * 1e6, 0)
    m1 = F.round(F.col(m1_col).cast("double"), 6)
    m0 = F.round(F.col(m0_col).cast("double"), 6)
    lo = float(int(round(float(trim) * 1_000_000)))
    hi = 1_000_000.0 - lo
    base = df.select(
        t.alias("__t"),
        y.alias("__y"),
        e6.alias("__e6"),
        m1.alias("__m1"),
        m0.alias("__m0"),
    ).where(
        t.isNotNull()
        & y.isNotNull()
        & e6.isNotNull()
        & m1.isNotNull()
        & m0.isNotNull()
    )
    kept = (F.col("__e6") >= lo) & (F.col("__e6") <= hi)
    e = F.col("__e6") / F.lit(1e6)
    tt = F.col("__t").cast("double")
    psi = (
        F.col("__m1")
        - F.col("__m0")
        + tt * (F.col("__y") - F.col("__m1")) / e
        - (F.lit(1.0) - tt)
        * (F.col("__y") - F.col("__m0"))
        / (F.lit(1.0) - e)
    )
    psi6 = F.round(psi * 1e6, 0).cast(_DI)
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias(
            "n_trimmed"
        ),
        F.sum(F.when(kept, psi6)).alias("__sp"),
        F.sum(F.when(kept, psi6 * psi6)).alias("__spp"),
        F.sum(F.when(kept, 1).otherwise(0)).cast(_DI).alias("__nk"),
    )
    nk = F.col("__nk")
    ate = F.col("__sp").cast("double") / nk.cast("double") / 1e6
    # influence-function variance: (Σψ² − (Σψ)²/n)/(n−1), then
    # se = sqrt(var/n)
    var = F.when(
        nk > 1,
        (
            F.col("__spp").cast("double")
            - F.col("__sp").cast("double")
            * F.col("__sp").cast("double")
            / nk.cast("double")
        )
        / 1e12
        / (nk - 1).cast("double"),
    )
    se = F.sqrt(var / nk.cast("double"))
    z = 1.959963984540054
    return agg.select(
        F.col("n_all").alias("n"),
        "n_trimmed",
        F.when(nk > 0, F.round(ate, 6)).alias("ate"),
        F.round(se, 6).alias("se"),
        F.round(ate - F.lit(z) * se, 6).alias("ci_lo"),
        F.round(ate + F.lit(z) * se, 6).alias("ci_hi"),
    )
