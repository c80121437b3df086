"""Distributed connected components over a pair list.

Alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14): each round applies

- large-star: every node u links each LARGER neighbor to
  m = min(Γ(u) ∪ {u}), and
- small-star: every node u links its smaller-or-equal neighbors
  (and itself) to the minimum among them,

which provably converges to one star per component (every member
pointing at the component minimum) in O(log n) rounds — unlike plain
min-label propagation, whose round count is the graph DIAMETER (a
templated-spam chain at 100 TB can be arbitrarily long). Convergence
is detected with an order-independent (count, xor-of-hashes)
fingerprint after each phase — a cheap action on the pair frame, no
data-scale collect. If the fingerprint still moves at ``max_iter``
the result would be silently wrong, so the default is to raise
(``on_nonconverged="warn"`` downgrades to a warning).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint


def _fingerprint(e: DataFrame) -> tuple:
    """Order-independent edge-set fingerprint: (count, xor of row
    hashes, xor of independently-seeded row hashes). Edges are kept
    distinct, so xor cancellation of duplicate rows cannot occur;
    the second, independently-seeded xor closes the residual window
    where two DIFFERENT equal-count edge sets collide on one 64-bit
    xor (r6, VERDICT r5 #6) — a false convergence now needs a
    simultaneous collision in two independent 64-bit spaces."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("x"),
        F.expr("bit_xor(xxhash64(u, v, 1))").alias("x2"),
    ).first()
    return (row["n"], row["x"], row["x2"])


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()


def _large_star(e_sym: DataFrame) -> DataFrame:
    """{(v, min Γ⁺(u)) : v ∈ Γ(u), v > u} over the symmetric edge set."""
    m = (
        e_sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    return (
        e_sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e_sym: DataFrame) -> DataFrame:
    """{(v, m) : v ∈ Γ≤(u) ∪ {u}}, m = min(Γ≤(u) ∪ {u}), self-loops
    dropped — Γ≤(u) are the neighbors ≤ u."""
    le = e_sym.filter(F.col("v") <= F.col("u"))
    m = (
        le.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    return (
        le.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    col_a: str = "id_a",
    col_b: str = "id_b",
    max_iter: int = 20,
    on_nonconverged: str = "raise",
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Input: undirected edges (col_a, col_b). Output: (id, component)
    where component = min id reachable, for every id appearing in the
    input. ``on_nonconverged``: "raise" (default) or "warn" when the
    edge set is still moving after ``max_iter`` large+small-star
    rounds (convergence is O(log n) rounds, so the default 20 covers
    graphs far beyond any real near-dup pair list).

    ``local_threshold``: edge sets at or below this size are solved
    on the DRIVER with union-find — the broadcast-join analogy: each
    large/small-star round costs ~10 shuffle stages plus two actions
    regardless of data size, so a thousand-edge graph pays seconds
    of pure scheduling for microseconds of work. A million edges is
    ~16 MB collected; identical labels (min reachable id) either
    way, and the distributed path is untouched for anything larger.
    Pass 0 to force the distributed path.

    Each round is checkpointed (without it the plan doubles every
    round); :func:`skrub_spark.session.checkpoint` picks local or
    reliable from the configured checkpoint dir.

    The persisted pair projection backs the returned frame; see
    :func:`skrub_spark.release` for the cache contract."""
    # The caller's pair pipeline (LSH banding, cosine verify, ...) is
    # often the expensive part; without a persist it would execute up
    # to four times — size probe, edge collect, and once per branch of
    # the singleton union. Project to the two id columns first so only
    # the narrow frame is cached.
    pairs = pairs.select(col_a, col_b).persist()
    edges = (
        pairs.select(F.col(col_a).alias("u"), F.col(col_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if local_threshold:
        # one bounded probe gates the fast path: limit()+collect keeps
        # the driver transfer bounded even when the pair list is huge,
        # and on the (common) small side it doubles as the edge
        # collect — one job instead of a count followed by a collect
        rows = edges.limit(local_threshold + 1).collect()
        if len(rows) <= local_threshold:
            if rows:
                labels = _union_find_local(pairs.sparkSession, rows)
            else:
                # no non-self edges: empty labels with the input's
                # id type so the singleton union stays type-stable
                labels = pairs.select(
                    F.col(col_a).alias("id"),
                    F.col(col_a).alias("component"),
                ).limit(0)
            return _with_singletons(pairs, col_a, col_b, labels)
    # invariant: e is the symmetrized edge set entering each phase
    e = checkpoint(_symmetrize(edges))
    converged = False
    before = _fingerprint(e)
    for _ in range(max_iter):
        e2 = checkpoint(_symmetrize(_small_star(_symmetrize(_large_star(e)))))
        after = _fingerprint(e2)
        e = e2
        if after == before:
            # one full round left the (symmetrized) edge set unchanged
            # -> fixpoint of L∘S; stars are the only such fixpoints
            # (Kiveris et al. Thm 1-2), so labels below are exact.
            converged = True
            break
        before = after
    if not converged:
        msg = (
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds; labels would be incomplete. "
            "Increase max_iter."
        )
        if on_nonconverged == "warn":
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
        else:
            raise RuntimeError(msg)
    labels = (
        e.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(F.col("u").alias("id"), F.least("u", "mv").alias("component"))
    )
    return _with_singletons(pairs, col_a, col_b, labels)


def _union_find_local(spark, edge_rows) -> DataFrame:
    """Driver-side union-find over a collected edge list; returns the
    same (id, component=min reachable id) frame as the distributed
    path. Path compression + union by attaching the larger root id
    under the smaller keeps the min at the root throughout."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        ra, rb = find(row["u"]), find(row["v"])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = set()
    for row in edge_rows:
        nodes.add(row["u"])
        nodes.add(row["v"])
    data = [(n, find(n)) for n in sorted(nodes)]
    if isinstance(data[0][0], int):
        return spark.createDataFrame(data, "id long, component long")
    return spark.createDataFrame(data)  # infer (string ids etc.)


def _with_singletons(
    pairs: DataFrame, col_a: str, col_b: str, labels: DataFrame
) -> DataFrame:
    """Nodes whose only edge was a self-pair were dropped by the
    u != v filter but must still be labeled (as their own
    component)."""
    labels = labels.toDF("id", "component")
    singletons = (
        pairs.select(F.col(col_a).alias("id"))
        .union(pairs.select(F.col(col_b).alias("id")))
        .distinct()
        .join(labels, on="id", how="left_anti")
        .select("id", F.col("id").alias("component"))
    )
    return labels.union(singletons)


def keep_best(
    df: DataFrame,
    components: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Curation policy on top of a clustering (r9): keep the
    HIGHEST-scoring row of every near-dup cluster instead of the
    arbitrary min-id canonical — "of these near-identical pages,
    keep the best-written one", the policy real corpus builds
    apply after near-dedup.

    ``components``: (id, component) from
    :func:`connected_components` / ``minhash_near_duplicates``
    (rows absent there are singletons — their cluster is their own
    id). Adds ``cluster`` and ``kept``; the winner is the cluster's
    max ``score_col`` with smaller id breaking ties — a
    deterministic total order, so the result is
    partitioning-invariant and SQL-replayable (ROW_NUMBER over the
    same ordering). The per-cluster window is bounded by cluster
    size, never corpus-wide. One narrow join + one bounded window:
    scales like the clustering itself."""
    from pyspark.sql import Window

    lab = components.select(
        F.col("id").alias(id_col), F.col("component").alias("cluster")
    )
    j = df.join(lab, id_col, "left").withColumn(
        "cluster", F.coalesce(F.col("cluster"), F.col(id_col))
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return j.withColumn("kept", F.row_number().over(w) == 1)
