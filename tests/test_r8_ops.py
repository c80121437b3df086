"""Round-8 operators: DSIR importance resampling, fixed-point
PageRank, and the tree-ensemble → CASE compiler."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

# ---------------------------------------------------------------- DSIR


def _bucket(unit: str, n: int, salt: str) -> int:
    """Python replay of quality_classifier.bucket_sql."""
    h = hashlib.md5((salt + unit).encode()).hexdigest()
    return int(h[:15], 16) % n


def test_fit_dsir_upweights_target_units(spark):
    from skrub_spark.operators.dsir import dsir_log_weight, fit_dsir

    target = spark.createDataFrame(
        [(i, "alpha alpha beta") for i in range(20)], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(i, "alpha alpha beta") for i in range(10)]
        + [(100 + i, "gamma delta epsilon") for i in range(30)],
        "doc_id long, text string",
    )
    m = fit_dsir(target, raw, n_features=64, bigrams=False)
    scored = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_log_weight(raw, m).collect()
    }
    # every target-looking doc must outweigh every off-target doc
    assert min(scored[i] for i in range(10)) > max(
        scored[100 + i] for i in range(30)
    )


def test_dsir_log_weight_matches_numpy_replay(spark):
    from skrub_spark.operators.dsir import dsir_log_weight, fit_dsir

    docs = spark.createDataFrame(
        [(1, "Alpha beta gamma"), (2, "beta beta"), (3, "")],
        "doc_id long, text string",
    )
    m = fit_dsir(docs.filter("doc_id = 1"), docs, n_features=32, bigrams=True)
    got = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_log_weight(docs, m).collect()
    }

    def units(text):
        toks = [t.lower() for t in text.split()]
        return toks + [
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        ]

    for doc_id, text in [(1, "Alpha beta gamma"), (2, "beta beta"), (3, "")]:
        want = round(
            sum(
                m["log_ratios"][_bucket(u, 32, m["salt"])]
                for u in units(text)
            ),
            6,
        )
        assert got[doc_id] == want


def test_dsir_resample_enriches_target_domain(spark, sf_dir):
    from skrub_spark._frozen import DSIR_MODEL
    from skrub_spark.operators.dsir import dsir_resample
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    n = docs.count()
    k = min(30, n)
    sel = dsir_resample(docs, DSIR_MODEL, k)
    sel_rows = sel.collect()
    assert len(sel_rows) == k
    en_sel = sum(1 for r in sel_rows if r["lang"] == "en") / k
    en_all = docs.filter("lang = 'en'").count() / n
    # the frozen model targets the English slice — the resample must
    # be enriched in it
    assert en_sel > en_all


def test_dsir_resample_stable_under_repartition(spark):
    from skrub_spark.operators.dsir import dsir_resample, fit_dsir

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} alpha") for i in range(200)],
        "doc_id long, text string",
    )
    m = fit_dsir(docs.filter("doc_id % 2 = 0"), docs, n_features=32)
    a = {r["doc_id"] for r in dsir_resample(docs, m, 25).collect()}
    b = {
        r["doc_id"]
        for r in dsir_resample(docs.repartition(7), m, 25).collect()
    }
    assert a == b


# ------------------------------------------------------------ PageRank


def _pagerank_py(edges, n_iter=3, scale=10**9):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {v: scale for v in nodes}
    base = scale * 15 // 100
    for _ in range(n_iter):
        inc = {}
        for s, d in edges:
            inc[d] = inc.get(d, 0) + rank[s] // out[s]
        rank = {v: base + 85 * inc.get(v, 0) // 100 for v in nodes}
    return rank


def test_pagerank_matches_python_fixed_point_exactly(spark):
    from skrub_spark.operators.graph import pagerank

    edges = [(i % 13, (i * 5 + 2) % 13) for i in range(40)]
    edges = sorted({(s, d) for s, d in edges if s != d})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank_fp"] for r in pagerank(df, n_iter=3).collect()
    }
    assert got == _pagerank_py(edges)


def test_pagerank_uniform_cycle(spark):
    from skrub_spark.operators.graph import SCALE, pagerank

    # 1 -> 2 -> 3 -> 4 -> 1: perfectly symmetric, ranks stay at SCALE
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    for r in pagerank(df, n_iter=4).collect():
        assert r["rank_fp"] == SCALE
        assert r["rank"] == 1.0


def test_pagerank_sink_accumulates(spark):
    from skrub_spark.operators.graph import pagerank

    # star into node 9: it must outrank its sources
    df = spark.createDataFrame(
        [(i, 9) for i in range(5)], "src long, dst long"
    )
    ranks = {r["node"]: r["rank_fp"] for r in pagerank(df).collect()}
    assert ranks[9] > max(ranks[i] for i in range(5))


def test_pagerank_partition_invariant(spark):
    from skrub_spark.operators.graph import pagerank

    edges = [(i % 11, (i * 3 + 1) % 11) for i in range(30) if i % 11 != (i * 3 + 1) % 11]
    df = spark.createDataFrame(sorted(set(edges)), "src long, dst long")
    a = sorted(map(tuple, pagerank(df, n_iter=3, partitions=2).collect()))
    b = sorted(map(tuple, pagerank(df, n_iter=3, partitions=7).collect()))
    assert a == b


# --------------------------------------------------- tree compilation


def test_compiled_gbt_matches_mllib_transform(spark):
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor

    from skrub_spark.functions.tree_compile import (
        ensemble_margin,
        export_gbt,
    )

    df = spark.createDataFrame(
        [(float(i), float((i * 7) % 13) + 0.5 * i) for i in range(60)],
        "x double, y double",
    )
    tr = VectorAssembler(inputCols=["x"], outputCol="__features").transform(df)
    model = GBTRegressor(
        featuresCol="__features", labelCol="y", maxIter=5, maxDepth=3, seed=7
    ).fit(tr)
    frozen = export_gbt(model, ndp=12)
    got = model.transform(tr).select(
        "x", "prediction",
        ensemble_margin(frozen, [F.col("x")]).alias("compiled"),
    )
    for r in got.collect():
        assert abs(r["prediction"] - r["compiled"]) < 1e-9


def test_compiled_classifier_sign_matches_mllib(spark):
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.feature import VectorAssembler

    from skrub_spark.functions.tree_compile import (
        ensemble_margin,
        export_gbt,
    )

    df = spark.createDataFrame(
        [(float(i), 1.0 if (i % 5) > 1 else 0.0) for i in range(80)],
        "x double, label double",
    )
    tr = VectorAssembler(inputCols=["x"], outputCol="__features").transform(df)
    model = GBTClassifier(
        featuresCol="__features", labelCol="label",
        maxIter=5, maxDepth=3, seed=7,
    ).fit(tr)
    frozen = export_gbt(model, ndp=12)
    assert frozen["kind"] == "binary"
    got = model.transform(tr).select(
        "prediction",
        (ensemble_margin(frozen, [F.col("x")]) > 0)
        .cast("double")
        .alias("compiled"),
    )
    for r in got.collect():
        assert r["prediction"] == r["compiled"]


def test_trees_to_sql_replays_in_duckdb(spark):
    import duckdb

    from skrub_spark._frozen import GBT_REGRESSION
    from skrub_spark.functions.tree_compile import (
        ensemble_margin,
        trees_to_sql,
    )

    df = spark.createDataFrame(
        [(float(i),) for i in range(25)], "x double"
    )
    srows = {
        r["x"]: r["p"]
        for r in df.select(
            "x",
            F.round(
                ensemble_margin(GBT_REGRESSION, [F.col("x")]), 6
            ).alias("p"),
        ).collect()
    }
    con = duckdb.connect()
    expr = trees_to_sql(GBT_REGRESSION, ["CAST(x AS DOUBLE)"])
    drows = dict(
        con.execute(
            f"SELECT x, ROUND({expr}, 6) FROM (SELECT unnest(generate_series(0, 24)) AS x)"
        ).fetchall()
    )
    assert srows == {float(k): v for k, v in drows.items()}


# ------------------------------------------------- r8 compositions


def test_rank_gated_corpus_keeps_only_ranked_hosts(spark, sf_dir):
    from skrub_spark.queries import q_rank_gated_corpus

    rows = q_rank_gated_corpus(spark, sf_dir).collect()
    assert rows, "gate emptied the corpus"
    for r in rows:
        assert r["host_rank"] > 0.0
        assert r["host"] == r["doc_id"] % 97


def test_cluster_balanced_sample_covers_cells(spark, sf_dir):
    from skrub_spark._frozen import SEMANTIC_CENTROIDS
    from skrub_spark.queries import q_cluster_balanced_sample

    rows = q_cluster_balanced_sample(spark, sf_dir).collect()
    cells = {r["cell"] for r in rows}
    assert cells <= set(range(len(SEMANTIC_CENTROIDS)))
    # the sampler targets ~25/cell; tiny sf gives fewer, never more
    # than the cell population and never an explosion past target
    from collections import Counter

    per = Counter(r["cell"] for r in rows)
    assert max(per.values()) <= 40


# ---------------------------------------------------------- sketches


def test_distinct_sketch_unbiased_and_bounded_error(spark):
    from skrub_spark.functions.sketches import distinct_sketch

    # D = 3000 distinct values, each appearing twice
    df = spark.createDataFrame(
        [(f"val{i % 3000}",) for i in range(6000)], "v string"
    )
    est = distinct_sketch(df, "v", rate=16, salt="t8").collect()[0][
        "distinct_est"
    ]
    assert abs(est - 3000) / 3000 < 0.30  # ~sqrt(16/3000) ≈ 7% typical


def test_distinct_sketch_mergeable_across_shards(spark):
    from skrub_spark.functions.sketches import distinct_sketch, sketch_member
    from pyspark.sql import functions as F

    a = spark.createDataFrame([(f"x{i}",) for i in range(800)], "v string")
    b = spark.createDataFrame(
        [(f"x{i}",) for i in range(400, 1200)], "v string"
    )
    whole = distinct_sketch(a.union(b), "v", rate=8, salt="m8").collect()[0][
        "distinct_est"
    ]
    # merge = union the per-shard SURVIVOR sets (what a production
    # system persists), distinct, multiply back
    surv = (
        a.filter(sketch_member(F.col("v"), 8, "m8"))
        .union(b.filter(sketch_member(F.col("v"), 8, "m8")))
        .distinct()
        .count()
    )
    assert whole == surv * 8


def test_distinct_sketch_partition_invariant(spark):
    from skrub_spark.functions.sketches import distinct_sketch

    df = spark.createDataFrame(
        [(f"t{i % 500}", f"g{i % 3}") for i in range(2000)],
        "v string, g string",
    )
    a = sorted(
        map(tuple, distinct_sketch(df, "v", ["g"], rate=4).collect())
    )
    b = sorted(
        map(
            tuple,
            distinct_sketch(df.repartition(13), "v", ["g"], rate=4).collect(),
        )
    )
    assert a == b


def test_snapshot_diff_statuses(spark, tmp_path):
    from skrub_spark.sources.snapshots import snapshot_diff, write_snapshot

    root = str(tmp_path / "snaps")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    v2 = spark.createDataFrame(
        [(2, "b"), (3, "c-new"), (4, "d")], "doc_id long, text string"
    )
    write_snapshot(v1, root, version=1)
    write_snapshot(v2, root, version=2)
    got = {
        r["doc_id"]: r["status"]
        for r in snapshot_diff(spark, root, 1, 2).collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_quantile_sketch_exact_at_full_fraction(spark):
    from skrub_spark.functions.sketches import quantile_sketch

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "id long, v double"
    )
    got = {
        r["q"]: r["value"]
        for r in quantile_sketch(
            df, "v", "id", qs=[0.25, 0.5, 1.0], frac=1.0
        ).collect()
    }
    # discrete quantile = value at row ceil(q*n): 25, 50, 100
    assert got == {0.25: 25.0, 0.5: 50.0, 1.0: 100.0}


def test_quantile_sketch_sampling_error_bounded(spark):
    from skrub_spark.functions.sketches import quantile_sketch

    df = spark.createDataFrame(
        [(i, float(i % 10000)) for i in range(20000)], "id long, v double"
    )
    got = {
        r["q"]: r["value"]
        for r in quantile_sketch(
            df, "v", "id", qs=[0.5], frac=0.25, salt="qe8"
        ).collect()
    }
    # order-statistic bound: median of a ~5000-row sample of
    # uniform(0..9999) sits within a few hundred of 5000
    assert abs(got[0.5] - 5000.0) < 400


def test_compiled_gbt_two_features(spark):
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor

    from skrub_spark.functions.tree_compile import (
        ensemble_margin,
        export_gbt,
    )

    df = spark.createDataFrame(
        [
            (float(i % 9), float(i % 7), float((i * 3) % 11))
            for i in range(120)
        ],
        "a double, b double, y double",
    )
    tr = VectorAssembler(
        inputCols=["a", "b"], outputCol="__features"
    ).transform(df)
    model = GBTRegressor(
        featuresCol="__features", labelCol="y", maxIter=4, maxDepth=3, seed=3
    ).fit(tr)
    frozen = export_gbt(model, ndp=12)
    got = model.transform(tr).select(
        "prediction",
        ensemble_margin(frozen, [F.col("a"), F.col("b")]).alias("compiled"),
    )
    for r in got.collect():
        assert abs(r["prediction"] - r["compiled"]) < 1e-9


# ----------------------------------------------------- z-order layout


def test_zorder_value_matches_python_interleave(spark):
    from skrub_spark.sources.layout import zorder_value

    cols = {"a": (0, 1000), "b": (0, 1000)}
    df = spark.createDataFrame(
        [(i, float((i * 37) % 1000)) for i in range(500)],
        "a long, b double",
    )
    got = {
        r["a"]: r["z"]
        for r in df.withColumn("z", zorder_value(cols, bits=8)).collect()
    }

    def pyz(a, b, bits=8, n=2):
        z = 0
        for ci, (v, (lo, hi)) in enumerate([(a, (0, 1000)), (b, (0, 1000))]):
            cell = int((float(v) - lo) / (hi - lo) * (2**bits) // 1)
            cell = min(2**bits - 1, max(0, cell))
            for i in range(bits):
                z += ((cell >> i) & 1) << (i * n + ci)
        return z

    assert all(got[i] == pyz(i, float((i * 37) % 1000)) for i in range(500))


def test_zorder_value_clamps_out_of_range(spark):
    from skrub_spark.sources.layout import zorder_value

    df = spark.createDataFrame(
        [(-5, 0.0), (99999, 2000.0)], "a long, b double"
    )
    rows = df.withColumn(
        "z", zorder_value({"a": (0, 100), "b": (0, 100)}, bits=4)
    ).collect()
    zs = {r["a"]: r["z"] for r in rows}
    assert zs[-5] == 0  # both cells clamp to 0
    # both cells clamp to 15: z = interleave(15, 15) = 255
    assert zs[99999] == 255


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    from pyspark.sql import functions as F

    from skrub_spark.sources.layout import (
        file_skip_fraction,
        write_zordered,
    )

    df = spark.range(40_000).select(
        F.col("id").alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(10_000)).cast("double").alias("y"),
    )
    zpath = str(tmp_path / "zord")
    spath = str(tmp_path / "sortx")
    write_zordered(df, zpath, {"x": (0, 40_000), "y": (0, 10_000)}, n_files=16)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(spath)
    px, py = {"x": (1_000, 3_000)}, {"y": (4_000, 4_500)}
    assert file_skip_fraction(zpath, px) >= 0.5
    assert file_skip_fraction(zpath, py) >= 0.5
    # the linear sort cannot prune the dimension it didn't sort on
    assert file_skip_fraction(spath, py) == 0.0


def test_trustrank_zero_outside_seed_reach(spark):
    from skrub_spark.operators.graph import pagerank

    # component A: 1 -> 2 -> 3; component B: 10 -> 11. Seeds = {1}.
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    ranks = {
        r["node"]: r["rank_fp"]
        for r in pagerank(df, n_iter=3, seeds=seeds).collect()
    }
    assert ranks[10] == 0 and ranks[11] == 0  # unreachable from seeds
    assert ranks[1] > 0 and ranks[2] > 0 and ranks[3] > 0
    # trust decays with distance from the seed
    assert ranks[1] > ranks[2] > ranks[3] or ranks[2] > ranks[3]


def test_trustrank_matches_python_fixed_point(spark):
    from skrub_spark.operators.graph import SCALE, pagerank

    edges = sorted(
        {(i % 9, (i * 4 + 1) % 9) for i in range(25) if i % 9 != (i * 4 + 1) % 9}
    )
    seed_set = {0, 1}
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(s,) for s in seed_set], "node long")
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank(df, n_iter=3, seeds=seeds).collect()
    }
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {v: (SCALE if v in seed_set else 0) for v in nodes}
    base = SCALE * 15 // 100
    for _ in range(3):
        inc = {}
        for s, d in edges:
            inc[d] = inc.get(d, 0) + rank[s] // out[s]
        rank = {
            v: (base if v in seed_set else 0) + 85 * inc.get(v, 0) // 100
            for v in nodes
        }
    assert got == rank


def test_numeric_associations_matches_numpy(spark):
    import numpy as np

    from skrub_spark.report.associations import numeric_associations

    rows = [
        (float(i % 10), float((i * 3) % 7) + 0.25 * (i % 10), float(i % 2))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    got = {
        (r["left_column_name"], r["right_column_name"]): r["pearson_r"]
        for r in numeric_associations(df, ["a", "b", "c"]).collect()
    }
    arr = np.array(rows)
    for (i, a), (j, b) in [((0, "a"), (1, "b")), ((0, "a"), (2, "c")), ((1, "b"), (2, "c"))]:
        want = np.corrcoef(arr[:, i], arr[:, j])[0, 1]
        assert abs(got[(a, b)] - want) < 1e-6


def test_numeric_associations_partition_invariant(spark):
    from skrub_spark.report.associations import numeric_associations

    df = spark.createDataFrame(
        [(float(i % 13), float((i * 7) % 17)) for i in range(1000)],
        "a double, b double",
    )
    x = numeric_associations(df, ["a", "b"]).collect()[0]["pearson_r"]
    y = numeric_associations(df.repartition(23), ["a", "b"]).collect()[0][
        "pearson_r"
    ]
    assert x == y


def test_quality_score_column_matches_batch_scorer(spark, sf_dir):
    from skrub_spark._frozen import QUALITY_MODEL
    from skrub_spark.operators.quality_classifier import (
        quality_score_column,
        score_quality,
    )
    from skrub_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = {
        r["doc_id"]: r["q"]
        for r in docs.select(
            "doc_id",
            F.round(quality_score_column(QUALITY_MODEL), 6).alias("q"),
        ).collect()
    }
    b = {
        r["doc_id"]: round(r["quality_score"], 6)
        for r in score_quality(docs, QUALITY_MODEL).collect()
    }
    assert a == b


def test_opq_beats_plain_pq_recall(spark, sf_dir):
    """The committed OPQ rotation must not LOSE recall vs plain PQ at
    the same compression (on the training-scale fixture it gains
    ~10%); both measured against exact cosine top-10 truth."""
    import numpy as np

    from skrub_spark._frozen import OPQ_MODEL, PQ_CODEBOOKS, PQ_DIM
    from skrub_spark.similarity.quantize import (
        topk_cosine_opq,
        topk_cosine_pq,
    )
    from skrub_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    X = np.asarray([list(r["embedding"]) for r in rows], "float64")
    ids = np.asarray([r["vec_id"] for r in rows])
    pq = {
        "dim": PQ_DIM,
        "n_subspaces": len(PQ_CODEBOOKS),
        "n_codes": len(PQ_CODEBOOKS[0]),
        "codebooks": PQ_CODEBOOKS,
    }

    def recall(fn, model):
        hits = 0
        for qi in range(5):
            q = X[list(ids).index(qi)]
            sims = X @ q / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
            truth = set(ids[np.argsort(-sims)[:10]])
            got = {
                r["vec_id"] for r in fn(emb, model, list(q), k=10).collect()
            }
            hits += len(got & truth)
        return hits / 50

    r_pq = recall(topk_cosine_pq, pq)
    r_opq = recall(topk_cosine_opq, OPQ_MODEL)
    assert r_opq >= r_pq, (r_opq, r_pq)


def test_rotation_is_orthogonal_and_preserves_cosine(spark):
    import numpy as np

    from skrub_spark._frozen import OPQ_MODEL

    R = np.asarray(OPQ_MODEL["rotation"], "float64")
    # 6dp-rounded orthogonality: R R^T == I within rounding noise
    err = np.abs(R @ R.T - np.eye(R.shape[0])).max()
    assert err < 1e-4, err


def test_pagerank_weighted_multiplicity(spark):
    from skrub_spark.operators.graph import pagerank

    # 1 -> 2 with weight 3 vs 1 -> 3 with weight 1: node 2 must
    # receive 3x node 3's contribution (up to floor loss)
    df = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1)], "src long, dst long, w long"
    )
    ranks = {
        r["node"]: r["rank_fp"]
        for r in pagerank(df, n_iter=1, weight="w").collect()
    }
    base = 150_000_000
    assert ranks[2] - base == 3 * (ranks[3] - base)


def test_pagerank_weighted_unit_weights_equal_unweighted(spark):
    from pyspark.sql import functions as F

    from skrub_spark.operators.graph import pagerank

    edges = [(i % 11, (i * 3 + 1) % 11) for i in range(40) if i % 11 != (i * 3 + 1) % 11]
    df = spark.createDataFrame(sorted(set(edges)), "src long, dst long")
    a = sorted(map(tuple, pagerank(df, n_iter=3).collect()))
    b = sorted(
        map(
            tuple,
            pagerank(
                df.withColumn("w", F.lit(1)), n_iter=3, weight="w"
            ).collect(),
        )
    )
    assert a == b


def test_spearman_matches_scipy_free_replay(spark):
    import numpy as np

    from skrub_spark.report.associations import numeric_associations

    rows = [(float(i % 10), float((i * i) % 23)) for i in range(150)]
    df = spark.createDataFrame(rows, "a double, b double")
    got = numeric_associations(df, ["a", "b"], method="spearman").collect()[
        0
    ]["spearman_r"]

    # numpy replay: average-rank transform then Pearson
    def avg_ranks(x):
        order = np.argsort(x, kind="stable")
        ranks = np.empty(len(x))
        sx = np.asarray(x)[order]
        i = 0
        while i < len(sx):
            j = i
            while j < len(sx) and sx[j] == sx[i]:
                j += 1
            ranks[order[i:j]] = (i + j - 1) / 2 + 1
            i = j
        return ranks
    a = avg_ranks([r[0] for r in rows])
    b = avg_ranks([r[1] for r in rows])
    want = np.corrcoef(a, b)[0, 1]
    assert abs(got - want) < 1e-6


def test_spearman_perfect_monotone_is_one(spark):
    from skrub_spark.report.associations import numeric_associations

    df = spark.createDataFrame(
        [(float(i), float(i**3)) for i in range(50)], "a double, b double"
    )
    r = numeric_associations(df, ["a", "b"], method="spearman").collect()[0]
    assert r["spearman_r"] == 1.0


# ------------------------------------------------------------ HITS


def _hits_py(edges, n_iter=3, scale=10**6):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    h = {v: scale for v in nodes}
    a = {v: 0 for v in nodes}
    for _ in range(n_iter):
        ar = {v: 0 for v in nodes}
        for s, d in edges:
            ar[d] += h[s]
        am = max(ar.values())
        a = {v: (ar[v] * scale) // am for v in nodes}
        hr = {v: 0 for v in nodes}
        for s, d in edges:
            hr[s] += a[d]
        hm = max(hr.values())
        h = {v: (hr[v] * scale) // hm for v in nodes}
    return h, a


def test_hits_matches_python_fixed_point_exactly(spark):
    from skrub_spark.operators.graph import hits

    edges = [(i % 11, (i * 7 + 3) % 11) for i in range(40)]
    edges = sorted({(s, d) for s, d in edges if s != d})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["hub_fp"], r["auth_fp"])
           for r in hits(df, n_iter=3).collect()}
    h, a = _hits_py(edges)
    assert got == {v: (h[v], a[v]) for v in h}


def test_hits_star_separates_hubs_from_authorities(spark):
    """A pure directory node (links out, never linked) is max hub /
    zero authority; its targets are authorities / zero hubs."""
    from skrub_spark.operators.graph import SCALE_H, hits

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    got = {r["node"]: (r["hub_fp"], r["auth_fp"])
           for r in hits(df, n_iter=2).collect()}
    assert got[0] == (SCALE_H, 0)
    for i in range(1, 6):
        assert got[i] == (0, SCALE_H)


def test_hits_partition_invariant(spark):
    from skrub_spark.operators.graph import hits

    edges = [(i % 9, (i * 4 + 1) % 9) for i in range(30) if i % 9 != (i * 4 + 1) % 9]
    df = spark.createDataFrame(sorted(set(edges)), "src long, dst long")
    a = sorted(map(tuple, hits(df, n_iter=2).collect()))
    b = sorted(map(tuple, hits(df.repartition(7), n_iter=2).collect()))
    assert a == b
