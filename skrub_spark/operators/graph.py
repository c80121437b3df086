"""Link-graph operators for web-corpus curation (beyond-reference
LLM-pipeline operator, SURVEY.md §2).

Web-scale curation uses the LINK GRAPH as a quality prior: Common
Crawl ranks hosts by centrality (harmonic/PageRank over the
host-level webgraph) and pipelines keep/weight documents by their
domain's rank. This module provides a deterministic, exact-oracle
PageRank over an edge DataFrame, Spark-first:

- Fixed-point BIGINT arithmetic ("nano-rank" units, SCALE = 1e9):
  every operation is integer floor-division/sum, so the result is
  BIT-IDENTICAL on any engine, partitioning, or summation order —
  no float drift across iterations, and the DuckDB oracle replays
  every iteration exactly (battery query ``domain_pagerank``).
  Reproducibility is not cosmetic at 100 TB: a rank that changes
  with partition count silently reshuffles which documents a
  rank-weighted sampler keeps between runs.
- Each iteration is ONE shuffle: contributions = ranks ⋈ edges on
  src (ranks are |V|-sized, edges |E|-sized), then a map-side-
  combined sum per dst. Edges are pre-partitioned by src ONCE and
  persisted, so every iteration's join reuses the same layout
  (Exchange appears once in the plan, not per iteration); ranks are
  the only frame that moves.
- The dangling-mass convention is the simple "lost mass" variant
  (nodes with no out-links contribute nothing): each node's next
  rank is ``(1-d)·SCALE + d · Σ_in floor(r_src / outdeg_src)``
  with d = d_num/d_den applied as integer multiply-then-floor-div.
  Fixed iteration count (power iteration), no convergence test —
  the deterministic shape production webgraph ranks use.

At 100 TB the host graph is ~10^9 edges — |V| rank rows fit any
cluster, the per-iteration shuffle is the edge join, and AQE's
skew-join split handles the megahost skew (a node with 10^7
in-links is one hot reduce key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint

SCALE = 1_000_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    n_iter: int = 3,
    d_num: int = 85,
    d_den: int = 100,
    partitions: int | None = None,
    seeds: DataFrame | None = None,
    weight: str | None = None,
) -> DataFrame:
    """Fixed-point PageRank over distinct directed edges; returns
    (node, rank_fp, rank) where ``rank_fp`` is the exact BIGINT
    nano-rank and ``rank = round(rank_fp / 1e9, 6)``.

    Every node present as src or dst participates; duplicate edges
    are collapsed (host graphs are simple graphs). ``n_iter`` is a
    fixed power-iteration count; damping d = d_num/d_den is applied
    as ``(d_num · x) div d_den`` so the arithmetic stays integral.

    ``seeds`` (one ``node`` column) switches to PERSONALIZED
    PageRank — TrustRank (Gyöngyi et al. 2004), the seed-based
    quality prior web curation actually runs: the (1−d) reset mass
    lands ONLY on the seed set (trusted/curated hosts) instead of
    uniformly, and the initial rank is SCALE on seeds / 0 elsewhere,
    so trust propagates outward along links and an unreachable spam
    cluster scores exactly 0. The seed frame broadcasts (it is
    curated, therefore small).

    ``weight`` names a positive integer edge-weight column —
    duplicate (src, dst) pairs collapse by SUMMING it (link
    multiplicity) and each edge carries ``weight / out-weight`` of
    its source's rank, still in exact integer arithmetic
    (``(rank · w) div W``). Unweighted is the w = 1 special case of
    the same formula, so the exact oracles replay both."""
    if weight is None:
        e = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst")
        ).distinct()
        e = e.withColumn("w", F.lit(1).cast("long"))
    else:
        # weighted edges: duplicate (src, dst) pairs collapse by
        # SUMMING weight — link multiplicity, the host-graph rule
        e = (
            edges.select(
                F.col(src).alias("src"),
                F.col(dst).alias("dst"),
                F.col(weight).cast("long").alias("w"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    if partitions:
        e = e.repartition(partitions, "src")
    e = e.persist()
    # total out-WEIGHT per source (== out-degree when unweighted)
    outdeg = e.groupBy("src").agg(F.sum("w").alias("outdeg"))
    # edges with out-weight attached — the frame each iteration joins
    ed = e.join(outdeg, "src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    base = (SCALE * (d_den - d_num)) // d_den

    if seeds is not None:
        seed_marked = nodes.join(
            F.broadcast(seeds.select("node").distinct().withColumn(
                "__seed", F.lit(True)
            )),
            "node",
            "left",
        ).withColumn("__seed", F.coalesce("__seed", F.lit(False)))
        nodes = seed_marked.persist()
        base_col = F.when(F.col("__seed"), F.lit(base)).otherwise(F.lit(0))
        init_col = F.when(F.col("__seed"), F.lit(SCALE)).otherwise(F.lit(0))
    else:
        base_col = F.lit(base)
        init_col = F.lit(SCALE)

    ranks = nodes.withColumn("rank_fp", init_col.cast("long"))
    for _ in range(int(n_iter)):
        contribs = (
            ed.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            # `div` is Spark's integer division (long in, long out);
            # the oracle replays it as DuckDB's `//`. All quantities
            # are positive, so floor == trunc on both engines — a
            # double round-trip (/ then cast) would TRUNCATE in Spark
            # but ROUND in DuckDB.
            # contribution ∝ edge weight / total out-weight; with the
            # multiply FIRST the floor loses at most 1 nano-rank unit
            # (w ≤ outdeg, rank·w ≤ ~1e9·1e6 — far inside int64)
            .select("dst", F.expr("(rank_fp * w) div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(
                contribs.withColumnRenamed("dst", "node"), "node", "left"
            )
            .select(
                "node",
                (
                    base_col.cast("long")
                    + F.expr(
                        f"(({d_num}L * coalesce(in_sum, 0L)) div {d_den}L)"
                    )
                ).alias("rank_fp"),
            )
        )
    out = ranks.select(
        "node",
        "rank_fp",
        F.round(F.col("rank_fp") / F.lit(float(SCALE)), 6).alias("rank"),
    )
    # materialization of `out` is lazy; the persisted edge/node frames
    # stay pinned for the caller's consumption of the result — they
    # are |E|/|V|-bounded key frames, never document payloads
    return out


# HITS uses a smaller fixed-point scale than PageRank: each
# normalization multiplies a raw sum (≤ indeg · SCALE_H) by SCALE_H
# before the floor-div, so indeg · SCALE_H² must fit int64 —
# SCALE_H = 1e6 keeps headroom up to ~9e6 in-links per host.
SCALE_H = 1_000_000


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    n_iter: int = 3,
    partitions: int | None = None,
) -> DataFrame:
    """Kleinberg's HITS (1999) — the hubs/authorities companion to
    ``pagerank``: authority(i) = Σ_{j→i} hub(j), hub(i) = Σ_{i→j}
    authority(j), max-normalized each half-step. Link-directory
    hosts (hubs) and linked-to content hosts (authorities) separate
    in web curation where PageRank conflates them.

    Same exactness discipline as ``pagerank``: BIGINT fixed-point
    (SCALE_H units) with integer multiply-then-floor-div
    normalization by the MAX (scaling each power-iteration step by
    any positive scalar preserves the eigenvector direction, so
    L∞ gives the same ranking as the textbook L2 while staying
    integral) — bit-identical under any partitioning and replayed
    exactly by the chained-CTE oracle (battery query
    ``hits_domains``). Per iteration: one shuffle join per
    direction + a scalar max broadcast back. Returns (node, hub_fp,
    auth_fp, hub, authority); no-in-link nodes have authority 0,
    sink nodes hub 0."""
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct()
    if partitions:
        e = e.repartition(partitions, "src")
    e = e.persist()
    # An empty edge frame would make each half-step's max None
    # (int(None) TypeError) — fail loudly up front instead.
    if e.limit(1).count() == 0:
        raise ValueError("hits: graph has no edges")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    h = nodes.withColumn("h", F.lit(SCALE_H).cast("long"))
    a = None
    # Each half-step's normalizer is ONE exact integer — collect it
    # (2 longs per iteration of driver state, the same bounded-fit
    # rule as the IVF Lloyd loop) and embed it as a literal. Joining
    # the max back as a frame instead embeds the half-step's whole
    # subtree TWICE per step, doubling the plan tree every half-step
    # (~4^n_iter — at n_iter=3 the plan string alone OOMed the
    # driver). Each half-step is also CHECKPOINTED: even with the
    # literal maxes, the repeated nodes/e self-references make
    # Catalyst re-ANALYSIS super-linear (a cached final frame still
    # took ~20s to re-plan at 96 nodes) — lineage truncation per
    # half-step keeps analysis O(1) per iteration (session.checkpoint:
    # the mode follows the configured checkpoint dir). Frames are
    # |V|-bounded.
    # r12-opt half-step shape: checkpoint the UNNORMALIZED per-node
    # sums first (one heavy job: join + map-side-combined sum + the
    # nodes left-join), then read the normalizer max off the
    # checkpointed |V| frame (a trivial second job) and normalize as
    # a lazy map over the checkpoint. The former shape persisted the
    # raw sums, ran the max aggregate as its own HEAVY job
    # (materializing the persist), then ran the nodes-join+checkpoint
    # as a second heavy job — same job count, but one of the two was
    # redundant heavy work. Normalization math is unchanged
    # (identical literal-embedded integer floor-div).
    for _ in range(int(n_iter)):
        araw = checkpoint(
            nodes.join(
                e.join(h.withColumnRenamed("node", "src"), "src")
                .groupBy("dst")
                .agg(F.sum("h").alias("ar"))
                .withColumnRenamed("dst", "node"),
                "node",
                "left",
            ).select("node", F.coalesce("ar", F.lit(0)).alias("ar"))
        )
        am_v = araw.agg(F.max("ar").alias("am")).first()["am"]
        if not am_v:  # None (no rows) or 0 — normalization impossible
            raise ValueError("hits: authority normalizer is empty/zero")
        am = int(am_v)
        a = araw.select(
            "node",
            F.expr(f"(ar * {SCALE_H}L) div {am}L").alias("a"),
        )
        hraw = checkpoint(
            nodes.join(
                e.join(a.withColumnRenamed("node", "dst"), "dst")
                .groupBy("src")
                .agg(F.sum("a").alias("hr"))
                .withColumnRenamed("src", "node"),
                "node",
                "left",
            ).select("node", F.coalesce("hr", F.lit(0)).alias("hr"))
        )
        hm_v = hraw.agg(F.max("hr").alias("hm")).first()["hm"]
        if not hm_v:
            raise ValueError("hits: hub normalizer is empty/zero")
        hm = int(hm_v)
        h = hraw.select(
            "node",
            F.expr(f"(hr * {SCALE_H}L) div {hm}L").alias("h"),
        )
    return (
        h.join(a.withColumnRenamed("a", "auth_fp"), "node")
        .select(
            "node",
            F.col("h").alias("hub_fp"),
            "auth_fp",
            F.round(F.col("h") / F.lit(float(SCALE_H)), 6).alias("hub"),
            F.round(F.col("auth_fp") / F.lit(float(SCALE_H)), 6).alias(
                "authority"
            ),
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    n_iter: int = 3,
    partitions: int | None = None,
    nodes_df: DataFrame | None = None,
    node: str = "node",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) —
    community detection on the undirected link graph. Connected
    components answers "reachable at all"; LPA finds DENSE regions
    inside one component (mirror clusters, link farms, forum
    families), the granularity web curation actually groups
    domains by.

    Determinism discipline (same as ``pagerank``/``hits``): labels
    start as node ids; each synchronous round every node adopts its
    neighbors' MOST FREQUENT label with ties broken by SMALLEST
    label, so the result is bit-identical under any partitioning
    and a chained-CTE oracle replays every round (battery query
    ``lpa_communities``). Fixed ``n_iter`` rounds (the
    production-webgraph shape — no convergence probe).

    Per round: ONE shuffle — edges ⋈ labels on the neighbor end
    (labels are |V|-sized, the edge join reuses the one persisted
    edge partitioning) → map-side-combined (node, label) counts →
    a per-node top-1 window (bounded frame). Per-round
    checkpointing truncates lineage exactly like ``hits``.
    Returns ``(node, label)``. The node universe is derived from the
    self-loop-filtered symmetrized edge list, so isolated /
    self-loop-only nodes are ABSENT unless an explicit ``nodes_df``
    frame is passed — then every listed node appears, edge-less ones
    keeping their own id as label.
    """
    from pyspark.sql import Window

    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    e = fwd.union(rev).filter(F.col("src") != F.col("dst")).distinct()
    if partitions:
        e = e.repartition(partitions, "src")
    e = e.persist()
    nodes = e.select(F.col("src").alias("node")).distinct().persist()
    lab = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(int(n_iter)):
        counts = (
            e.join(
                lab.withColumnRenamed("node", "dst"), "dst"
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        winner = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        lab = (
            nodes.join(winner, "node", "left")
            .join(lab, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
        )
        lab = checkpoint(lab)
    if nodes_df is not None:
        key_t = lab.schema["node"].dataType
        universe = nodes_df.select(
            F.col(node).cast(key_t).alias("node")
        ).distinct()
        lab = universe.join(lab, "node", "left").select(
            "node",
            F.coalesce("label", "node").alias("label"),
        )
    return lab


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    partitions: int | None = None,
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient on
    the undirected link graph — the density metric that separates
    organically-linked hosts (high clustering: real communities
    link back) from link farms and spam rings (star/chain shapes:
    near-zero clustering despite high degree). Complements
    ``pagerank`` (volume prior) and ``label_propagation``
    (membership) with a SHAPE prior web curation can gate on.

    Algorithm: degree-ordered node-iterator (Suri & Vassilvitskii
    2011, "Counting Triangles and the Curse of the Last Reducer").
    Each undirected edge is oriented from the lower to the higher
    endpoint under the total order (degree, node) — so every
    oriented out-degree is O(√|E|) regardless of skew, which
    bounds the wedge blow-up that a naive adjacency self-join
    suffers on megahosts (a 10⁷-degree hub contributes 10¹⁴ naive
    wedges but only √-bounded oriented ones). Wedges (two oriented
    edges sharing a source) are closed by ONE join against the
    oriented edge list; consistency of the total order means each
    triangle is found exactly once. Three shuffles total (degree
    agg, wedge self-join, closing join) — all on node/edge keys,
    AQE-splittable.

    Determinism: triangle counts are exact integers; the
    coefficient ``2·T / (deg·(deg−1))`` is ONE IEEE division of
    exact integers rounded to 6dp, so the result is bit-identical
    on any engine or partitioning and the DuckDB oracle replays it
    (battery query ``triangle_stats``).

    Returns ``(node, degree, triangles, clustering_coeff)`` —
    every node of the graph; degree-1 nodes get coefficient NULL
    (undefined), triangle-free nodes 0.0.
    """
    a, b = F.col("a"), F.col("b")
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(a != b)
        .distinct()
    )
    if partitions:
        und = und.repartition(partitions, "a")
    und = und.persist()
    deg = (
        und.select(a.alias("node"))
        .unionAll(und.select(b.alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .persist()
    )
    # orient low→high under (degree, node); carry the order key of
    # BOTH endpoints so wedge endpoints can be compared without a
    # further join
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    ed = und.join(da, "a").join(db, "b")
    lo_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (a < b)
    )
    oriented = ed.select(
        F.when(lo_first, a).otherwise(b).alias("u"),
        F.when(lo_first, b).otherwise(a).alias("v"),
        F.when(lo_first, F.col("degb")).otherwise(F.col("dega")).alias(
            "degv"
        ),
    ).persist()
    # wedges centered at u: (v, w) with v strictly before w in the
    # same total order — the closing edge, if present, is oriented
    # v→w by transitivity, so one equi-join finds each triangle once
    e1 = oriented.select("u", F.col("v").alias("v"), F.col("degv").alias("dv"))
    e2 = oriented.select("u", F.col("v").alias("w"), F.col("degv").alias("dw"))
    wedges = e1.join(e2, "u").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    tris = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias(
                "triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.coalesce("triangles", F.lit(0)).cast("double")
                    / (
                        F.col("degree").cast("double")
                        * (F.col("degree") - 1).cast("double")
                    ),
                    6,
                ),
            ).alias("clustering_coeff"),
        )
    )
    return out


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    k: int,
    n_iter: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """k-core decomposition by synchronous peeling — the maximal
    subgraph where every node keeps ≥ k neighbors. PageRank ranks
    volume, triangles rank shape; the k-core ranks EMBEDDEDNESS:
    spam hosts engineer degree and even triangles cheaply, but
    staying in a deep core requires k well-connected neighbors who
    each stay too — the classic robust web-spam / influential-set
    signal (Kitsak et al. 2010).

    Synchronous rounds: every round removes ALL nodes whose current
    degree < k at once (deterministic under any partitioning —
    sequential peeling would depend on visit order), then their
    edges. FIXED ``n_iter`` rounds, no convergence probe — rounds
    past the fixpoint are exact no-ops, so "n rounds of peeling" is
    a complete spec both engines replay (battery oracle ``k_core``
    chains one CTE pair per round; a pytest asserts the planted
    graph reaches its fixpoint within the round budget).

    Per round: ONE map-side-combined degree agg over the live edge
    list + two hash anti-joins against the dropped-node set, then a
    checkpoint truncating lineage (same discipline as ``hits`` /
    ``label_propagation``). Returns ``(node, degree)`` of the
    surviving core — empty if the graph has no k-core.
    """
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    e = fwd.union(rev).filter(F.col("src") != F.col("dst")).distinct()
    if partitions:
        e = e.repartition(partitions, "src")
    e = checkpoint(e)
    for _ in range(int(n_iter)):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        bad = deg.filter(F.col("deg") < int(k)).select("src")
        e = e.join(bad, "src", "left_anti").join(
            bad.withColumnRenamed("src", "dst"), "dst", "left_anti"
        )
        e = checkpoint(e)
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    *,
    max_hops: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS: ``(node, dist)`` for every node within
    ``max_hops`` of any source (dist = exact hop distance to the
    NEAREST source, sources at 0). Landmark distances are the
    standard closeness/centrality feature webgraph curation ranks
    hosts by (distance to seed sets of known-good / known-spam
    hosts — the TrustRank geometry made explicit), and the bounded
    variant of single-source shortest paths.

    Determinism: distance is a set fixpoint — each round's frontier
    is the anti-joined neighbor set, so the result is bit-identical
    under any partitioning and a chained-CTE oracle replays every
    round (battery query ``bfs_distances``).

    Per round: ONE shuffle (edges ⋈ frontier on the source end,
    reusing the persisted edge partitioning) + one distinct + one
    anti-join against the settled set; frontiers and the settled
    frame are |V|-sized, edges are touched once per round.
    Per-round checkpointing truncates lineage exactly like
    ``label_propagation``.
    """
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if directed:
        e = fwd.filter(F.col("src") != F.col("dst")).distinct()
    else:
        rev = edges.select(
            F.col(dst).alias("src"), F.col(src).alias("dst")
        )
        e = (
            fwd.union(rev)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
    e = e.persist()
    # Align the seed ids to the edges' native key type (string hosts,
    # long ids, ... — same rule as pagerank/hits/label_propagation).
    # A hard cast('long') here silently NULLed string-keyed seeds and
    # returned empty distances instead of erroring.
    key_t = e.schema["src"].dataType
    settled = sources.select(
        F.col(node).cast(key_t).alias("node"), F.lit(0).alias("dist")
    ).distinct()
    settled = checkpoint(settled)
    frontier = settled.select("node")
    for h in range(1, int(max_hops) + 1):
        nxt = (
            e.join(
                frontier.withColumnRenamed("node", "src"), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(settled.select("node"), "node", "left_anti")
        )
        nxt = checkpoint(nxt)
        settled = settled.unionByName(
            nxt.select("node", F.lit(h).alias("dist"))
        )
        settled = checkpoint(settled)
        frontier = nxt
    return settled.select("node", F.col("dist").cast("int").alias("dist"))


def weighted_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
    *,
    n_rounds: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Bounded Bellman-Ford: cheapest path cost from any source to
    every node reachable within ``n_rounds`` edges — ``(node,
    dist)`` with integer edge weights (``bfs_distances`` is the
    hop-count special case; weighted distances are what link-cost
    or latency-aware seed-proximity features actually need).

    Determinism: each synchronous round relaxes EVERY edge against
    the full current frontier (``d_{i+1}(v) = min(d_i(v),
    min_{(u,v,w)} d_i(u)+w)``) — a set/min fixpoint, bit-identical
    under any partitioning, replayed round-by-round by the
    chained-CTE oracle (battery query ``weighted_distances``).
    Costs are exact integers (ANSI-checked adds).

    Per round: ONE shuffle (edges ⋈ current distances on the
    source end, reusing the persisted edge partitioning) + one
    min-groupBy + a full-outer min-merge with the previous
    distances; all post-edge frames are |V|-sized. Lineage is
    checkpointed per round like ``bfs_distances``.
    """
    fwd = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
    )
    if directed:
        e = fwd.filter(F.col("src") != F.col("dst")).distinct()
    else:
        rev = edges.select(
            F.col(dst).alias("src"),
            F.col(src).alias("dst"),
            F.col(weight).cast("long").alias("w"),
        )
        e = (
            fwd.union(rev)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
    e = e.persist()
    # Same native-key-type alignment as bfs_distances: string-keyed
    # graphs must not have their seeds cast to long (silent NULLs).
    key_t = e.schema["src"].dataType
    dist = sources.select(
        F.col(node).cast(key_t).alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).distinct()
    dist = checkpoint(dist)
    for _ in range(int(n_rounds)):
        relaxed = (
            e.join(
                dist.withColumnRenamed("node", "src"), "src"
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        dist = (
            dist.withColumnRenamed("dist", "d0")
            .join(relaxed.withColumnRenamed("dist", "d1"), "node", "full")
            .select(
                "node",
                F.least(
                    F.coalesce("d0", F.col("d1")),
                    F.coalesce("d1", F.col("d0")),
                ).alias("dist"),
            )
        )
        dist = checkpoint(dist)
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction (r9c) over the undirected
    simple graph: for every non-adjacent node pair with >=
    ``min_common`` shared neighbors, the three classic scores —
    common-neighbor count, Jaccard, and resource allocation
    (Zhou/Lu/Zhang 2009, RA = sum over shared z of 1/deg(z), the
    consistently strongest local index).

    Exactness: counts are integers; Jaccard is ONE IEEE division of
    exact integers (6dp round); RA ships INTEGER-scaled as
    ``ra_scaled = sum(10^12 div deg(z))`` — no per-engine float
    summation order anywhere, so the frame replays bit-identically
    in SQL (battery query ``link_prediction``).

    Scale: the wedge self-join is the quadratic step — each shared
    neighbor z contributes deg(z)^2 candidate pairs. ``max_degree``
    drops hub INTERMEDIATES above the cap (their wedges are
    link-prediction noise — sharing a megahub says nothing), the
    standard guard; full degrees still feed Jaccard. Returns
    ``(node_a, node_b, common_neighbors, ra_scaled, jaccard)`` with
    node_a < node_b.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    und = und.persist()
    nbrs = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).toDF("z", "x")
    deg = nbrs.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    mids = nbrs.join(deg, "z")
    if max_degree is not None:
        mids = mids.where(F.col("deg") <= max_degree)
    left = mids.select("z", F.col("x").alias("na"), "deg")
    right = mids.select("z", F.col("x").alias("nb"))
    pairs = (
        left.join(right, "z")
        .where(F.col("na") < F.col("nb"))
        .groupBy("na", "nb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(F.expr("1000000000000L div deg"))
            .cast("long")
            .alias("ra_scaled"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )
    # drop already-adjacent pairs (na < nb matches und's a < b)
    cand = pairs.join(
        und,
        (pairs["na"] == und["a"]) & (pairs["nb"] == und["b"]),
        "left_anti",
    )
    da = deg.select(F.col("z").alias("na"), F.col("deg").alias("dega"))
    db = deg.select(F.col("z").alias("nb"), F.col("deg").alias("degb"))
    return (
        cand.join(da, "na")
        .join(db, "nb")
        .select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            "common_neighbors",
            "ra_scaled",
            F.round(
                F.col("common_neighbors").cast("double")
                / (
                    F.col("dega") + F.col("degb") - F.col("common_neighbors")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the
    undirected simple graph: the Pearson correlation of endpoint
    degrees over all directed edge stubs (each undirected edge
    counted in both orientations). Negative values are the
    web/spam-graph signature (hubs linking to leaves), positive
    values the social-graph signature — a one-row shape prior next
    to ``triangle_stats``.

    Exactness discipline (the numeric_associations recipe,
    report/associations.py): all five moment sums are exact
    DECIMAL(38,0) integers; the coefficient is computed with a
    handful of IEEE ops (two correctly-rounded sqrts, one divide)
    from those exact integers — bit-identical cross-engine.

    Returns one row ``(n_stubs, assortativity)``; NULL coefficient
    for degree-regular graphs (zero variance).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    stubs = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = stubs.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    joined = (
        stubs.join(deg.withColumnRenamed("a", "__u"), F.col("a") == F.col("__u"))
        .withColumnRenamed("deg", "du")
        .drop("__u")
        .join(deg.withColumnRenamed("a", "__v"), F.col("b") == F.col("__v"))
        .withColumnRenamed("deg", "dv")
        .drop("__v")
    )
    d38 = "decimal(38,0)"
    sums = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_stubs"),
        F.sum(F.col("du").cast(d38)).alias("sx"),
        F.sum((F.col("du").cast(d38) * F.col("dv").cast(d38))).alias("sxy"),
        F.sum((F.col("du").cast(d38) * F.col("du").cast(d38))).alias("sxx"),
    )
    # by stub symmetry sum(dv)=sum(du) and sum(dv^2)=sum(du^2)
    n = F.col("n_stubs").cast("double")
    sx = F.col("sx").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    var = n * sxx - sx * sx
    return sums.select(
        "n_stubs",
        F.when(
            # Sx=Sy and Sxx=Syy by stub symmetry, so the usual
            # sqrt(varx)*sqrt(vary) denominator IS var exactly.
            var > 0,
            F.round((n * sxy - sx * sx) / var, 6),
        ).alias("assortativity"),
    )
