"""Tests for joins, sessionization, dedup operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skrub_spark.dedup.components import connected_components
from skrub_spark.dedup.exact import dedup_exact, drop_exact_duplicates
from skrub_spark.dedup.jaccard import ngram_jaccard_pairs
from skrub_spark.dedup.minhash import dedup_minhash_pairs
from skrub_spark.dedup.simhash import dedup_simhash_pairs
from skrub_spark.dedup.strings import deduplicate_strings
from skrub_spark.operators.agg_joiner import AggJoiner, AggTarget
from skrub_spark.operators.joiner import fuzzy_join
from skrub_spark.operators.session_encoder import SessionEncoder, sessionize
from skrub_spark.similarity.topk import topk_cosine, topk_cosine_lsh


def test_agg_joiner(spark):
    main = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    aux = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0)], "k int, x double"
    )
    out = AggJoiner(
        aux, operations=["count", "sum"], key="k"
    ).fit_transform(main)
    rows = {r["k"]: r for r in out.collect()}
    assert rows[1]["x_count"] == 2 and rows[1]["x_sum"] == 30.0
    assert rows[2]["x_count"] == 1
    assert rows[3]["x_count"] is None  # left join keeps unmatched


def test_agg_target(spark):
    df = spark.createDataFrame(
        [(1, 2.0), (1, 4.0), (2, 6.0)], "k int, y double"
    )
    out = AggTarget("k", ["mean"], "y").fit_transform(df)
    rows = out.collect()
    assert len(rows) == 3
    by_k = {(r["k"], r["y"]): r["y_mean_target"] for r in rows}
    assert by_k[(1, 2.0)] == 3.0


def test_fuzzy_join_levenshtein(spark):
    left = spark.createDataFrame(
        [(1, "appel"), (2, "oranje"), (3, "banana")], "id int, fruit string"
    )
    right = spark.createDataFrame(
        [(10, "apple"), (20, "orange"), (30, "kiwi")], "rid int, name string"
    )
    out = fuzzy_join(
        left, right, left_on="fruit", right_on="name",
        add_match_info=True, tiebreak_cols=["rid"],
    ).collect()
    match = {r["id"]: r["name"] for r in out}
    # banana is levenshtein-5 from both candidates; rid tiebreak -> apple
    assert match == {1: "apple", 2: "orange", 3: "apple"}
    # max_dist rejects far matches
    out2 = fuzzy_join(
        left, right, left_on="fruit", right_on="name",
        max_dist=2.0, tiebreak_cols=["rid"],
    ).collect()
    match2 = {r["id"]: r["name"] for r in out2}
    assert match2[1] == "apple" and match2[3] is None


def test_fuzzy_join_lsh(spark):
    left = spark.createDataFrame(
        [(1, "the blue whale swims"), (2, "red foxes run fast")], "id int, t string"
    )
    right = spark.createDataFrame(
        [(10, "the blue whale swim"), (20, "red foxes run quick")],
        "rid int, name string",
    )
    out = fuzzy_join(
        left, right, left_on="t", right_on="name", strategy="ngram_lsh",
        tiebreak_cols=["rid"],
    ).collect()
    match = {r["id"]: r["rid"] for r in out}
    assert match == {1: 10, 2: 20}


def test_sessionize(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:10:00", 2.0),
            (1, "2024-01-01 01:10:00", 3.0),  # gap > 30min -> new session
            (2, "2024-01-01 00:00:00", 4.0),
        ],
        "user_id int, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionize(df, gap_minutes=30.0).collect()
    sess = {(r["user_id"], str(r["ts"])): r["session_id"] for r in out}
    assert sess[(1, "2024-01-01 00:00:00")] == 1
    assert sess[(1, "2024-01-01 00:10:00")] == 1
    assert sess[(1, "2024-01-01 01:10:00")] == 2
    assert sess[(2, "2024-01-01 00:00:00")] == 1

    enc = SessionEncoder().fit_transform(df)
    r = {x["user_id"]: x for x in enc.collect()}
    assert r[1]["n_sessions"] == 2 and r[1]["n_events"] == 3
    assert r[2]["n_sessions"] == 1


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id int, text string"
    )
    out = dedup_exact(df).collect()
    assert {(r["canonical_id"], r["n_duplicates"]) for r in out} == {(1, 2), (3, 1)}
    kept = drop_exact_duplicates(df).select("doc_id").collect()
    assert {r["doc_id"] for r in kept} == {1, 3}


def test_minhash_and_jaccard_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("today", "tonight")
    other = "completely different text about spark engines and data pipelines ok"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id int, text string"
    )
    mh = dedup_minhash_pairs(
        df, n_components=32, n_bands=16, jaccard_threshold=0.5
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in mh] == [(1, 2)]
    jc = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in jc] == [(1, 2)]
    sh = dedup_simhash_pairs(df, max_hamming=10).collect()
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in sh}


def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    out = connected_components(pairs)
    comp = {r["id"]: r["component"] for r in out.collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10


def test_connected_components_long_chain(spark):
    """A 60-node chain (diameter 59) — the old min-label propagation
    needed 59 rounds and silently returned split components after its
    max_iter=20; large-star/small-star converges in O(log n) rounds.
    Also: shuffled edge order, a cross-link, and a self-pair node."""
    chain = [(i, i + 1) for i in range(60)]
    chain = chain[1::2] + chain[0::2]  # interleave so order can't help
    pairs = spark.createDataFrame(
        chain + [(200, 100), (300, 300)], "id_a int, id_b int"
    )
    out = connected_components(pairs, max_iter=10, local_threshold=0)
    comp = {r["id"]: r["component"] for r in out.collect()}
    assert all(comp[i] == 0 for i in range(61))
    assert comp[100] == comp[200] == 100
    assert comp[300] == 300  # self-pair node labels itself
    assert len(comp) == 64


_CKPT_PAIRS = [(1, 2), (2, 3), (10, 11)]
_CKPT_EDGES = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
_CKPT_KEYS = [(1, "b"), (2, "a"), (3, "c"), (4, "a"), (5, None), (6, "d")]

# Runs in a child interpreter: Spark cannot unset a checkpoint dir,
# and with one set every later checkpoint in the shared test session
# would silently switch to the reliable path.
_RELIABLE_CHILD = """
import json, sys
from skrub_spark import get_session
from skrub_spark.dedup.components import connected_components
from skrub_spark.operators.graph import k_core
from skrub_spark.operators.matching import sorted_neighborhood_pairs

spark = get_session(
    app_name="reliable_ckpt", master="local[1]", shuffle_partitions=1,
    extra_conf={"spark.ui.enabled": "false"},
)
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.setCheckpointDir(sys.argv[1])
pairs = spark.createDataFrame(json.loads(sys.argv[2]), "id_a int, id_b int")
edges = spark.createDataFrame(json.loads(sys.argv[3]), "src int, dst int")
keys = spark.createDataFrame(json.loads(sys.argv[4]), "id int, k string")
cc = connected_components(pairs, local_threshold=0).collect()
core = k_core(edges, k=3).collect()
spark.sparkContext.setCheckpointDir(sys.argv[1] + "/sn")
sn = sorted_neighborhood_pairs(keys, "id", "k", window=2, num_buckets=3).collect()
print(json.dumps({
    "cc": sorted(map(list, cc)),
    "core": sorted(map(list, core)),
    "sn": sorted(map(list, sn)),
}))
"""


def test_reliable_checkpoint_matches_local(spark, tmp_path):
    """With a checkpoint dir configured, the iterative operators take
    the reliable (fault-tolerant) checkpoint path, write checkpoint
    files there, and return exactly the rows of the local path."""
    import json
    import os
    import subprocess
    import sys

    from skrub_spark.operators.graph import k_core
    from skrub_spark.operators.matching import sorted_neighborhood_pairs

    pairs = spark.createDataFrame(_CKPT_PAIRS, "id_a int, id_b int")
    edges = spark.createDataFrame(_CKPT_EDGES, "src int, dst int")
    keys = spark.createDataFrame(_CKPT_KEYS, "id int, k string")
    sn = sorted_neighborhood_pairs(keys, "id", "k", window=2, num_buckets=3)
    local = {
        "cc": sorted(
            map(list, connected_components(pairs, local_threshold=0).collect())
        ),
        "core": sorted(map(list, k_core(edges, k=3).collect())),
        "sn": sorted(map(list, sn.collect())),
    }
    ckpt = tmp_path / "ckpt"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            [repo] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    res = subprocess.run(
        [
            sys.executable,
            "-c",
            _RELIABLE_CHILD,
            str(ckpt),
            json.dumps(_CKPT_PAIRS),
            json.dumps(_CKPT_EDGES),
            json.dumps(_CKPT_KEYS),
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    reliable = json.loads(res.stdout.strip().splitlines()[-1])
    assert reliable == local
    assert local["cc"] == [[1, 1], [2, 1], [3, 1], [10, 10], [11, 10]]
    assert local["core"] == [[1, 3], [2, 3], [3, 3], [4, 3]]
    # (k, id) order 2, 4, 1, 3, 6; the NULL key (id 5) has no place
    assert local["sn"] == [
        [1, 3, 1], [1, 6, 2], [2, 1, 2], [2, 4, 1], [3, 6, 1], [4, 1, 1],
        [4, 3, 2],
    ]
    for d in (ckpt, ckpt / "sn"):
        written = [
            f for _, _, files in os.walk(d) for f in files if f.startswith("part-")
        ]
        assert written, f"reliable path wrote no checkpoint files under {d}"


_WORKER_PATH_CHILD = """
import sys

sys.path.insert(0, sys.argv[1])
from skrub_spark import get_session
from skrub_spark.operators.html_extract import html_extract

spark = get_session(app_name="worker_path", master="local[1]", shuffle_partitions=1)
page = "<html><head><title>t{}</title></head><body><p>{}</p></body></html>"
df = spark.createDataFrame(
    [(i, page.format(i, "word " * 30)) for i in range(3)], "id long, content string"
)
print(sorted((r["id"], r["title"]) for r in html_extract(df).collect()))
"""


def test_python_workers_import_package_reached_through_sys_path(tmp_path):
    """A process that reaches the package only through ``sys.path``
    (another working directory, no PYTHONPATH) still runs an operator
    whose Python workers import it: ``get_session`` puts the
    package's parent directory on the workers' path."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", _WORKER_PATH_CHILD, repo],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    got = res.stdout.strip().splitlines()[-1]
    assert got == "[(0, 't0'), (1, 't1'), (2, 't2')]"


def test_fingerprint_distinguishes_equal_count_sets(spark):
    """Adversarial fingerprint check: equal-count edge sets must
    fingerprint differently (the convergence test compares
    fingerprints, so a collision would declare false convergence).
    With (count, xor, independently-seeded xor) a collision needs
    two simultaneous 64-bit hits; spot-check a family of equal-count
    3-edge sets pairwise."""
    from itertools import combinations

    from skrub_spark.dedup.components import _fingerprint

    sets = [
        [(1, 2), (3, 4), (5, 6)],
        [(1, 3), (2, 4), (5, 6)],
        [(1, 4), (2, 3), (5, 6)],
        [(1, 2), (3, 5), (4, 6)],
        [(2, 1), (4, 3), (6, 5)],  # direction matters pre-symmetrize
    ]
    fps = [
        _fingerprint(spark.createDataFrame(s, "u int, v int")) for s in sets
    ]
    assert all(len(fp) == 3 for fp in fps)
    for (i, a), (j, b) in combinations(enumerate(fps), 2):
        assert a != b, (sets[i], sets[j])


def test_connected_components_nonconvergence_raises(spark):
    """max_iter too small must raise (or warn), never silently return
    partial labels (VERDICT r4 finding)."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a int, id_b int"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1, local_threshold=0)
    with pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components(
            pairs, max_iter=1, on_nonconverged="warn", local_threshold=0
        ).collect()


def test_deduplicate_strings(spark):
    df = spark.createDataFrame(
        [("london",), ("london",), ("londonn",), ("paris",)], "city string"
    )
    out = deduplicate_strings(df, "city", similarity_threshold=0.5)
    vals = {r["city"]: r["city_dedup"] for r in out.collect()}
    assert vals["london"] == "london"
    assert vals["londonn"] == "london"  # maps to most frequent neighbor
    assert vals["paris"] == "paris"


def test_topk_cosine(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    out = topk_cosine(df, [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 2]
    # lsh variant returns a subset ranked the same way
    out2 = topk_cosine_lsh(df, [1.0, 0.0], k=2, n_planes=2, n_tables=4)
    ids = [r["vec_id"] for r in out2.collect()]
    assert 1 in ids


def test_jaccard_prefix_filter_exactness(spark):
    """prefix_filter=True must produce IDENTICAL pairs to the
    all-pairs path (it is a lossless candidate reducer)."""
    base_doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base_doc),
        (2, base_doc.replace("kappa", "lambda")),
        (3, base_doc.replace("alpha beta", "mu nu")),
        (4, "totally different words over here none shared at all ok"),
        (5, base_doc + " extra tokens appended here"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for thr in (0.3, 0.6):
        kw = dict(unit="word", n=2, threshold=thr)
        a = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
             for r in ngram_jaccard_pairs(df, **kw).collect()}
        b = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
             for r in ngram_jaccard_pairs(df, **kw, prefix_filter=True).collect()}
        assert a == b and len(a) > 0


def test_embedding_lsh_default_path(spark):
    """Regression: the default exact=False (LSH) mode must run (r1 it
    crashed on UNRESOLVED_COLUMN nrm) and, with enough tables, find
    the same pairs as the exact mode."""
    from skrub_spark.dedup.embedding import embedding_near_duplicates

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.98, 0.2]),
        (5, [-1.0, 0.0, 0.3]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(
            df, threshold=0.9, exact=True
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(
            df, threshold=0.9, n_planes=2, n_tables=24
        ).collect()
    }
    assert exact == {(1, 2), (3, 4)}
    assert lsh == exact


def test_fuzzy_join_second_neighbor_single_candidate(spark):
    """Regression (ADVICE r1): one-row right table means no 2nd
    neighbor; element_at(.., 2) raised under ANSI — try_element_at
    returns NULL and the denominator falls back to 1.0."""
    left = spark.createDataFrame([(1, "appel")], "id int, fruit string")
    right = spark.createDataFrame([(10, "apple")], "rid int, name string")
    out = fuzzy_join(
        left, right, left_on="fruit", right_on="name",
        ref_dist="second_neighbor", add_match_info=True,
    ).first()
    assert out["name"] == "apple"
    assert out["skrub_Joiner_rescaled_distance"] == out["skrub_Joiner_distance"]


def test_fuzzy_join_null_right_key_matches_no_row(spark):
    """A null right key has a null distance to every left row: it is no
    candidate, so the other right rows still match."""
    left = spark.createDataFrame([(1, "alpha"), (2, "beta")], "id int, k string")
    rows = [(10, "alpha"), (20, "bet")]
    for right_rows in (rows, rows + [(30, None)]):
        right = spark.createDataFrame(right_rows, "rid int, name string")
        out = fuzzy_join(
            left, right, left_on="k", right_on="name", strategy="levenshtein"
        ).collect()
        assert {r["id"]: r["rid"] for r in out} == {1: 10, 2: 20}


def test_ann_index_partition_pruned_probe(spark, tmp_path):
    """The written index is parquet partitioned by (table, bucket);
    a probe must scan ONLY matching partitions (PartitionFilters),
    and return the same ranking as brute force when recall allows."""
    import numpy as np

    from skrub_spark.similarity import (
        build_ann_index, read_ann_index, topk_cosine, topk_cosine_indexed,
        write_ann_index,
    )

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = rows[0][1]

    idx = build_ann_index(df, n_planes=3, n_tables=8, seed=1)
    write_ann_index(idx, str(tmp_path / "ann"))
    back = read_ann_index(spark, str(tmp_path / "ann"))
    probe = topk_cosine_indexed(back, q, k=5, n_planes=3, n_tables=8, seed=1)

    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the filter really references the partition columns
    assert "__ann_table" in plan.split("PartitionFilters", 1)[1][:500]

    got = [r["vec_id"] for r in probe.collect()]
    brute = [r["vec_id"] for r in topk_cosine(df, q, k=5).collect()]
    # row 0 (the query itself, cosine 1.0) is always in its own bucket
    assert got[0] == brute[0] == 0
    assert set(got) <= set(r["vec_id"] for r in topk_cosine(df, q, k=200).collect())


def test_fuzzy_join_numeric_keys(spark):
    """Numeric keys: standardized euclidean distance, argmin exact in
    the broadcast path and recovered by the quantized-band LSH path."""
    left = spark.createDataFrame(
        [(1, 10.2), (2, 55.0), (3, 99.9)], "id int, x double"
    )
    right = spark.createDataFrame(
        [(i, float(i)) for i in range(0, 101, 5)], "rid int, rx double"
    )
    exact = fuzzy_join(left, right, left_on="x", right_on="rx",
                       strategy="levenshtein")
    got = {r["id"]: r["rid"] for r in exact.collect()}
    assert got == {1: 10, 2: 55, 3: 100}

    banded = fuzzy_join(left, right, left_on="x", right_on="rx",
                        strategy="ngram_lsh")
    got_b = {r["id"]: r["rid"] for r in banded.collect()}
    assert got_b == got


def test_fuzzy_join_mixed_and_datetime_keys(spark):
    """String+numeric keys combine levenshtein with the standardized
    numeric component; datetime keys compare as epoch seconds."""
    import datetime as dt

    l2 = spark.createDataFrame(
        [(1, "appel", 10.0)], "id int, name string, x double"
    )
    r2 = spark.createDataFrame(
        [("apple", 9.0), ("apple", 5000.0), ("banana", 10.0)],
        "rname string, rx double",
    )
    out = fuzzy_join(
        l2, r2, left_on=["name", "x"], right_on=["rname", "rx"],
        strategy="levenshtein",
    ).first()
    assert out["rname"] == "apple" and out["rx"] == 9.0

    l3 = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 30))], "id int, t timestamp"
    )
    r3 = spark.createDataFrame(
        [(10, dt.datetime(2024, 1, 1)), (20, dt.datetime(2024, 1, 2))],
        "rid int, rt timestamp",
    )
    assert fuzzy_join(l3, r3, left_on="t", right_on="rt").first()["rid"] == 10

    with pytest.raises(ValueError, match="unsupported dtype"):
        fuzzy_join(
            l3.withColumn("b", F.lit(True)),
            r3.withColumn("rb", F.lit(False)),
            left_on="b", right_on="rb",
        )


def test_cosine_knn_join_exact_and_lsh(spark):
    """Exact knn join returns the true neighbors; the LSH mode's
    pairs are a subset with identical cosines (candidates only
    affect recall, never scores)."""
    import numpy as np

    from skrub_spark import cosine_knn_join

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    exact = cosine_knn_join(df, df, k=3, method="exact").collect()
    by_q = {}
    for r in exact:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == 60 and all(len(v) == 3 for v in by_q.values())

    # python brute-force check for one query
    import math
    q = dict(rows)[0]
    def cos(a, b):
        da = sum(x*y for x, y in zip(a, b))
        return da / (math.sqrt(sum(x*x for x in a)) * math.sqrt(sum(x*x for x in b)))
    want = sorted(((cos(q, v), i) for i, v in rows if i != 0),
                  key=lambda t: (-t[0], t[1]))[:3]
    got = sorted(by_q[0], key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in got] == [i for _, i in want]

    lsh = cosine_knn_join(df, df, k=3, method="lsh", n_planes=3, n_tables=6)
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    allpairs = cosine_knn_join(df, df, k=60, method="exact").collect()
    all_scores = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in allpairs}
    for r in lsh.collect():
        assert all_scores[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_cosine_knn_join_auto_switch(spark):
    """method='auto' (the default) stays exact below the broadcast
    budget and flips to LSH above it — the default can never plan a
    cross join against a large right side."""
    import numpy as np

    from skrub_spark import cosine_knn_join

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    def plan(out):
        return out._jdf.queryExecution().analyzed().toString()

    # under the limit -> exact (no LSH banding in the plan)
    small = cosine_knn_join(df, df, k=2, auto_broadcast_limit=100)
    assert "posexplode" not in plan(small)
    # over the limit -> lsh (banded candidates, no cross join)
    big = cosine_knn_join(df, df, k=2, auto_broadcast_limit=20)
    p = plan(big)
    assert "posexplode" in p and "Join Cross" not in p
    # and the LSH scores it does return are true cosines
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_knn_join(df, df, k=50, method="exact").collect()
    }
    for r in big.collect():
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_ivf_index_partition_pruned_probe(spark, tmp_path):
    """IVF persisted index: centroids stored next to the cells; a
    probe scans only matching cell partitions; probing ALL cells
    equals brute force exactly."""
    import numpy as np

    from skrub_spark.similarity import (
        build_ivf_index, read_ivf_index, topk_cosine,
        topk_cosine_ivf_indexed, write_ivf_index,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(150)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = rows[3][1]

    idx, cents = build_ivf_index(df, n_cells=8, seed=2)
    write_ivf_index(idx, cents, str(tmp_path / "ivf"))
    back, cents2 = read_ivf_index(spark, str(tmp_path / "ivf"))
    assert np.allclose(cents, cents2)

    probe = topk_cosine_ivf_indexed(back, cents2, q, k=5, n_probe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "__ivf_cell" in plan.split("PartitionFilters", 1)[1][:500]
    ids = [r["vec_id"] for r in probe.collect()]
    assert ids[0] == 3  # the query vector itself is in a probed cell

    full = topk_cosine_ivf_indexed(back, cents2, q, k=5, n_probe=len(cents2))
    brute = topk_cosine(df, q, k=5)
    assert [r["vec_id"] for r in full.collect()] == [
        r["vec_id"] for r in brute.collect()
    ]


def test_asof_join_directions_and_tolerance(spark):
    """merge_asof semantics: backward picks the latest right <= left
    ts, forward the earliest >= ; tolerance nulls far matches;
    allow_exact_matches=False excludes equal timestamps."""
    import datetime as dt

    from skrub_spark import asof_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [("u", ts(10), 1), ("u", ts(30), 2), ("u", ts(5), 3), ("v", ts(10), 4)],
        "user string, ts timestamp, lid int",
    )
    right = spark.createDataFrame(
        [("u", ts(7), 100.0), ("u", ts(10), 200.0), ("u", ts(31), 300.0)],
        "user string, ts timestamp, price double",
    )

    back = {
        r["lid"]: (r["price"], r["ts_right"])
        for r in asof_join(left, right, by="user").collect()
    }
    assert back[1] == (200.0, ts(10))   # exact match allowed
    assert back[2] == (200.0, ts(10))   # latest <= 30
    assert back[3] == (None, None)      # nothing before 5
    assert back[4] == (None, None)      # other key

    noexact = {
        r["lid"]: r["price"]
        for r in asof_join(
            left, right, by="user", allow_exact_matches=False
        ).collect()
    }
    assert noexact[1] == 100.0          # equal ts excluded -> 7min row

    fwd = {
        r["lid"]: r["price"]
        for r in asof_join(left, right, by="user", direction="forward").collect()
    }
    assert fwd[3] == 100.0 and fwd[2] == 300.0

    tol = {
        r["lid"]: r["price"]
        for r in asof_join(
            left, right, by="user", tolerance_s=5 * 60
        ).collect()
    }
    assert tol[1] == 200.0 and tol[2] is None  # 20min gap > 5min tol


def test_range_join_overlap_semantics(spark):
    """Closed-interval overlap incl. touching endpoints; pairs
    sharing several buckets are emitted once; `by` keys must match;
    and the plan is an equi-join, never a nested loop."""
    import datetime as dt

    from skrub_spark import range_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(h, m=0):
        return t0 + dt.timedelta(hours=h, minutes=m)

    left = spark.createDataFrame(
        [  # id, key, [start, end]
            (1, "k", ts(0), ts(5)),    # spans 6 buckets
            (2, "k", ts(10), ts(10, 30)),
            (3, "x", ts(0), ts(5)),    # other key
        ],
        "lid int, k string, start timestamp, end timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, "k", ts(2), ts(8)),       # overlaps 1 across 4 shared buckets
            (20, "k", ts(10, 30), ts(11)), # touches 2's endpoint exactly
            (30, "k", ts(6), ts(7)),       # overlaps nothing
        ],
        "rid int, k string, start timestamp, end timestamp",
    )
    out = range_join(
        left, right,
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        by="k", bucket="1 hour",
    )
    pairs = sorted((r["lid"], r["rid"]) for r in out.collect())
    assert pairs == [(1, 10), (2, 20)]  # deduped, touching counts, key respected
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_time_bucket_gapfill_modes(spark):
    """Dense spine per key between that key's min/max bucket; zero
    fills counts, locf carries metrics, null leaves gaps."""
    import datetime as dt

    from pyspark.sql import functions as F

    from skrub_spark import time_bucket_gapfill

    t0 = dt.datetime(2024, 1, 1)

    def ts(h, m=0):
        return t0 + dt.timedelta(hours=h, minutes=m)

    df = spark.createDataFrame(
        [("a", ts(0, 5), 10.0), ("a", ts(3, 9), 40.0), ("b", ts(1), 7.0)],
        "k string, ts timestamp, v double",
    )
    out = time_bucket_gapfill(
        df, "ts",
        aggs={"n": F.count(F.lit(1)), "s": F.sum("v"), "m": F.max("v")},
        bucket="1 hour", by="k",
        fill={"n": "zero", "s": "locf", "m": "null"},
    )
    rows = {(r["k"], r["bucket"].hour): r for r in out.collect()}
    # key a spans hours 0..3 (4 spine rows), key b only hour 1
    assert {(k, h) for (k, h) in rows} == {("a", 0), ("a", 1), ("a", 2), ("a", 3), ("b", 1)}
    assert rows[("a", 1)]["n"] == 0          # zero-filled count
    assert rows[("a", 1)]["s"] == 10.0       # locf from hour 0
    assert rows[("a", 2)]["m"] is None       # null mode leaves the gap
    assert rows[("a", 3)]["s"] == 40.0       # real value resumes


def test_sampling_determinism_and_independence(spark):
    """Hash sampling is stable under repartitioning (same rows every
    time), fractions land near target, and different salts give
    (nearly) independent membership."""
    from skrub_spark import deterministic_sample, hash_split

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    s1 = {r["k"] for r in deterministic_sample(df, "k", 0.3).collect()}
    s2 = {
        r["k"]
        for r in deterministic_sample(df.repartition(17), "k", 0.3).collect()
    }
    assert s1 == s2                       # layout-independent
    assert 0.25 < len(s1) / 5000 < 0.35   # near target

    sa = {r["k"] for r in deterministic_sample(df, "k", 0.3, salt="a").collect()}
    overlap = len(s1 & sa) / 5000
    assert 0.04 < overlap < 0.14          # ~0.09 expected if independent

    split = hash_split(df, "k", test_frac=0.2)
    counts = {r["split"]: r["cnt"] for r in split.groupBy("split").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("k").alias("cnt")
    ).collect()}
    assert counts["train"] + counts["test"] == 5000
    assert 0.15 < counts["test"] / 5000 < 0.25


def test_sample_to_targets(spark):
    """Mixture sampling hits each stratum's target within hash noise,
    caps over-large targets at the whole stratum, drops untargeted
    strata, and is layout-independent."""
    from skrub_spark.operators.sampling import sample_to_targets

    df = (
        spark.range(0, 3000)
        .withColumnRenamed("id", "k")
        .withColumn(
            "src",
            F.concat(F.lit("s"), (F.col("k") % 3).cast("string")),
        )
    )  # s0/s1/s2 x 1000 rows each
    targets = {"s0": 100, "s1": 5000}
    out = sample_to_targets(df, "src", targets, key="k", salt="z")
    counts = {
        r["src"]: r["n"]
        for r in out.groupBy("src").agg(F.count("k").alias("n")).collect()
    }
    assert 60 <= counts["s0"] <= 140        # ~100 of 1000
    assert counts["s1"] == 1000             # capped: keep everything
    assert "s2" not in counts               # no target -> dropped
    again = sample_to_targets(
        df.repartition(13), "src", targets, key="k", salt="z"
    )
    assert {r["k"] for r in out.collect()} == {r["k"] for r in again.collect()}


def test_temperature_mixture_rebalances(spark):
    """alpha<1 upweights the rare stratum relative to proportional;
    alpha=1 is ~proportional; alpha=0 is ~uniform budgets; membership
    is layout-independent."""
    from skrub_spark.operators.sampling import temperature_mixture

    df = (
        spark.range(0, 2200)
        .withColumnRenamed("id", "k")
        .withColumn(
            "src",
            F.when(F.col("k") < 2000, F.lit("big")).otherwise(F.lit("rare")),
        )
    )  # big: 2000 rows (10/11), rare: 200 rows (1/11)

    def kept(alpha, total=550):
        out = temperature_mixture(
            df, "src", "k", alpha=alpha, total=total, salt="t"
        )
        return {
            r["src"]: r["n"]
            for r in out.groupBy("src").agg(F.count("k").alias("n")).collect()
        }

    prop = kept(1.0)     # ~500 big / ~50 rare
    temp = kept(0.7)     # rare share rises
    unif = kept(0.0)     # ~275 / ~200 (rare capped at its 200 rows)
    assert prop["rare"] / (prop["big"] + prop["rare"]) < 0.15
    assert temp["rare"] / (temp["big"] + temp["rare"]) > (
        prop["rare"] / (prop["big"] + prop["rare"])
    )
    assert unif["rare"] == 200  # uniform budget 275 > stratum size: all kept
    a = temperature_mixture(df, "src", "k", alpha=0.7, total=550, salt="t")
    b = temperature_mixture(
        df.repartition(17), "src", "k", alpha=0.7, total=550, salt="t"
    )
    assert {r["k"] for r in a.collect()} == {r["k"] for r in b.collect()}


def test_sample_to_targets_tiny_target_not_emptied(spark):
    """Resolution regression (review finding): a target far below
    count/10^4 must keep ~target rows, not zero; target 0 keeps 0."""
    from skrub_spark.operators.sampling import sample_to_targets

    df = (
        spark.range(0, 200_000)
        .withColumnRenamed("id", "k")
        .withColumn("src", F.lit("web"))
    )
    n = sample_to_targets(df, "src", {"web": 5}, key="k", salt="t").count()
    assert 1 <= n <= 25  # ~5 expected, hash noise allowed, never 0
    assert sample_to_targets(df, "src", {"web": 0}, key="k").count() == 0


def test_pack_training_chunks_invariants(spark):
    """Chunk spans are contiguous across docs within a shard: doc i+1
    starts where doc i ended (same chunk when straddling), offsets are
    the cumsum mod chunk size, zero-token docs span no tokens."""
    from skrub_spark import pack_training_chunks

    df = spark.createDataFrame(
        [(1, 300), (2, 300), (3, 0), (4, 1100), (5, 24)],
        "doc int, n int",
    )
    out = {
        r["doc"]: (r["start_chunk"], r["end_chunk"], r["chunk_offset"])
        for r in pack_training_chunks(
            df, "n", chunk_tokens=512, order_col="doc"
        ).collect()
    }
    assert out[1] == (0, 0, 0)      # tokens 0..299
    assert out[2] == (0, 1, 300)    # 300..599 straddles chunk 0/1
    assert out[3] == (1, 1, 88)     # zero-width at offset 600
    assert out[4] == (1, 3, 88)     # 600..1699 spans chunks 1-3
    assert out[5] == (3, 3, 164)    # 1700..1723


def test_range_join_multiunit_bucket_alignment(spark):
    """Regression: multi-unit widths ('2 hours') must use epoch-
    aligned bucket indexes — per-row truncated stepping phase-shifts
    the sequences and silently drops overlaps. Also: duplicate input
    rows keep their multiplicity (no blanket dropDuplicates)."""
    import datetime as dt

    from skrub_spark import range_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(h, m=0):
        return t0 + dt.timedelta(hours=h, minutes=m)

    left = spark.createDataFrame(
        [(1, ts(1, 50), ts(2, 10)), (1, ts(1, 50), ts(2, 10))],  # duplicate row
        "lid int, start timestamp, end timestamp",
    )
    right = spark.createDataFrame(
        [(10, ts(2, 5), ts(2, 6))],
        "rid int, start timestamp, end timestamp",
    )
    out = range_join(
        left, right,
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        bucket="2 hours",
    ).collect()
    assert len(out) == 2  # overlap found despite crossing a 2h boundary,
    #                       and both duplicate left rows matched


def test_asof_join_null_timestamps(spark):
    """Null left ts matches nothing (both directions); null right ts
    rows are ignored, not carried into real rows."""
    import datetime as dt

    from skrub_spark import asof_join

    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("u", t, 1), ("u", None, 2)], "k string, ts timestamp, lid int"
    )
    right = spark.createDataFrame(
        [("u", None, 666.0), ("u", t, 42.0)],
        "k string, ts timestamp, price double",
    )
    for direction in ("backward", "forward"):
        got = {
            r["lid"]: r["price"]
            for r in asof_join(
                left, right, by="k", direction=direction
            ).collect()
        }
        assert got[1] == 42.0
        assert got[2] is None, direction


def test_ann_index_incremental_append(spark, tmp_path):
    """Incremental ingest: indexing corpus half B with the same seed
    and appending into half A's index probes identically to an index
    built over the full corpus at once."""
    from skrub_spark.similarity import (
        build_ann_index, read_ann_index, topk_cosine_indexed,
        write_ann_index,
    )
    from skrub_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qv = emb.filter("vec_id = 0").first()["embedding"]
    kw = dict(n_planes=4, n_tables=8)
    a, b = emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")

    inc = str(tmp_path / "inc")
    write_ann_index(build_ann_index(a, "embedding", "vec_id", **kw), inc)
    write_ann_index(
        build_ann_index(b, "embedding", "vec_id", **kw), inc, mode="append"
    )
    full = str(tmp_path / "full")
    write_ann_index(build_ann_index(emb, "embedding", "vec_id", **kw), full)

    got_inc = topk_cosine_indexed(
        read_ann_index(spark, inc), qv, k=10, round_digits=6, **kw
    ).collect()
    got_full = topk_cosine_indexed(
        read_ann_index(spark, full), qv, k=10, round_digits=6, **kw
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got_inc] == [
        (r["vec_id"], r["cosine"]) for r in got_full
    ]


def test_asof_join_matched_row_verbatim(spark):
    """A NULL field in the matched right row stays NULL — it must not
    be backfilled from an older right row (the matched row is carried
    as a unit, like merge_asof/ASOF JOIN return it)."""
    import datetime as dt

    from skrub_spark import asof_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [("u", ts(30), 1)], "k string, ts timestamp, lid int"
    )
    right = spark.createDataFrame(
        [("u", ts(10), 5.0), ("u", ts(20), None)],
        "k string, ts timestamp, price double",
    )
    row = asof_join(left, right, by="k").first()
    assert row["ts_right"] == ts(20)   # matched the ts=20 row...
    assert row["price"] is None        # ...and took its NULL verbatim


def test_fuzzy_join_lsh_narrow_path_options(spark):
    """The narrow LSH path (payload join-back after argmin) honors
    max_dist/drop_unmatched/add_match_info/second_neighbor exactly
    like the exact strategy."""
    from skrub_spark import fuzzy_join

    left = spark.createDataFrame(
        [(1, "apple pie"), (2, "zzz qqq vvv")], "lid int, name string"
    )
    right = spark.createDataFrame(
        [(10, "apple pies", 5.0), (20, "apple tart", 7.0)],
        "rid int, rname string, price double",
    )
    kw = dict(
        left_on="name", right_on="rname", strategy="ngram_lsh",
        n_components=24, n_bands=24, tiebreak_cols=["rid"],
    )
    out = {
        r["lid"]: r
        for r in fuzzy_join(
            left, right, add_match_info=True, max_dist=0.5, **kw
        ).collect()
    }
    # close match accepted with payload; far/no-candidate row kept with nulls
    assert out[1]["rid"] == 10 and out[1]["price"] == 5.0
    assert out[1]["skrub_Joiner_match_accepted"] is True
    assert 2 in out and out[2]["rid"] is None and out[2]["price"] is None

    kept = fuzzy_join(
        left, right, drop_unmatched=True, max_dist=0.5, **kw
    ).collect()
    assert [r["lid"] for r in kept] == [1]

    sn = {
        r["lid"]: r
        for r in fuzzy_join(
            left, right, ref_dist="second_neighbor", add_match_info=True, **kw
        ).collect()
    }
    d, resc = (
        sn[1]["skrub_Joiner_distance"],
        sn[1]["skrub_Joiner_rescaled_distance"],
    )
    # rescaled = best_dist / 2nd-neighbor dist, in (0, 1) when the
    # best is strictly closer than the runner-up
    assert sn[1]["rid"] == 10 and 0 < resc < 1 and resc != d


def test_dedup_spans_c4_rule(spark):
    """C4 line dedup: a line repeated across (and within) documents
    survives only at its first (doc, pos) occurrence; docs rebuild in
    original order; a fully-boilerplate doc becomes empty."""
    from skrub_spark.operators.span_dedup import dedup_spans

    df = spark.createDataFrame(
        [
            (1, "unique one\nCOOKIE banner\nunique two"),
            (2, "cookie banner\nfresh text\ncookie banner"),
            (3, "Cookie Banner"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in dedup_spans(df).collect()}
    # doc 1 keeps everything (its banner is the first occurrence)
    assert out[1]["clean_text"] == "unique one\nCOOKIE banner\nunique two"
    assert out[1]["n_removed"] == 0
    # doc 2 loses both banner copies (case-insensitive key), keeps order
    assert out[2]["clean_text"] == "fresh text"
    assert out[2]["n_removed"] == 2
    # doc 3 is pure boilerplate -> empty
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 1
    assert out[3]["n_lines"] == 1


def test_domain_stats_and_blocklist(spark):
    from skrub_spark.operators.domains import (
        domain_stats,
        drop_blocked_domains,
        extract_url_domains,
    )

    df = spark.createDataFrame(
        [
            (1, "intro http://A.com/x then https://b.org/y and http://a.com/z"),
            (2, "only https://b.org/page here"),
            (3, "no urls at all"),
            (4, "bad https://spam.example/p link"),
        ],
        "doc_id int, text string",
    )
    doms = {r["doc_id"]: r["d"] for r in df.select(
        "doc_id", F.col("text").alias("t")
    ).select("doc_id", extract_url_domains("t").alias("d")).collect()}
    assert doms[1] == ["a.com", "b.org", "a.com"]  # lowercased, in order
    assert doms[3] == []
    stats = {r["domain"]: (r["n_docs"], r["n_occurrences"])
             for r in domain_stats(df).collect()}
    assert stats["a.com"] == (1, 2)
    assert stats["b.org"] == (2, 2)
    assert stats["spam.example"] == (1, 1)
    kept = {r["doc_id"] for r in
            drop_blocked_domains(df, ["SPAM.example"]).collect()}
    assert kept == {1, 2, 3}  # blocklist matching is case-insensitive


def test_dedup_spans_window3(spark):
    """window=3: a repeated 3-consecutive-line span deletes its lines
    at every non-first occurrence; single repeated lines do NOT
    trigger removal; docs shorter than the window pass through."""
    from skrub_spark.operators.span_dedup import dedup_spans

    df = spark.createDataFrame(
        [
            (1, "A\nB\nC\nD"),
            (2, "X\na\nb\nc\nY"),  # span (a,b,c) dups doc1 (case-insensitive)
            (3, "A\nsolo repeat of one line only\nB"),  # no 3-line span dup
            (4, "tiny\ndoc"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in dedup_spans(df, window=3).collect()}
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "X\nY" and out[2]["n_removed"] == 3
    assert out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == "tiny\ndoc" and out[4]["n_removed"] == 0


def test_dedup_token_spans(spark):
    """Planted duplicated token run: every window of it in the later
    doc is removed (overlap at stride 1 covers the whole run), an
    identical doc empties entirely, and short docs pass through."""
    from skrub_spark.operators.span_dedup import dedup_token_spans

    df = spark.createDataFrame(
        [
            (1, "a1 a2 s1 s2 s3 s4 s5"),
            (2, "s1 s2 s3 s4 s5 b1 b2"),   # shares the 5-token run
            (3, "a1 a2 s1 s2 s3 s4 s5"),   # exact copy of doc 1
            (4, "x y"),                     # shorter than the window
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_token_spans(df, "text", "doc_id", window=3).collect()
    }
    assert out[1]["clean_text"] == "a1 a2 s1 s2 s3 s4 s5"
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "b1 b2"
    assert out[2]["n_removed"] == 5
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 7
    assert out[4]["clean_text"] == "x y" and out[4]["n_removed"] == 0


def test_semantic_dedup_planted_groups(spark):
    """SemDeDup contract: three planted groups of near-identical
    vectors (plus separated singletons) are each merged into one
    component with the min id canonical, singletons keep themselves,
    and — verified against numpy — every pair the operator merges
    truly has cosine >= threshold (clustering can only LOSE pairs,
    never invent them)."""
    import numpy as np

    from skrub_spark.dedup.embedding import semantic_dedup

    rng = np.random.default_rng(7)
    base = rng.standard_normal((3, 16))
    rows = []
    # groups: ids 0-2 ~ base0, 10-11 ~ base1, 20-23 ~ base2
    for gid, ids in zip(range(3), ([0, 1, 2], [10, 11], [20, 21, 22, 23])):
        for i in ids:
            rows.append((i, (base[gid] + rng.standard_normal(16) * 1e-3).tolist()))
    # far-apart singletons
    for i in (30, 31):
        rows.append((i, (rng.standard_normal(16) * 5).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        df, "embedding", "vec_id", threshold=0.99, n_clusters=3,
        lloyd_iters=2, seed=1,
    )
    comp = {r["vec_id"]: (r["component"], r["keep"]) for r in out.collect()}
    assert len(comp) == len(rows)
    assert comp[0] == (0, True) and comp[1] == (0, False) and comp[2] == (0, False)
    assert comp[10] == (10, True) and comp[11] == (10, False)
    assert all(comp[i] == (20, i == 20) for i in (20, 21, 22, 23))
    for i in (30, 31):
        assert comp[i] == (i, True)
    # no false merges: every non-canonical row is truly >= threshold
    # similar to SOME member of its component (here: the canonical)
    vecs = {i: np.array(v) for i, v in rows}
    for i, (c, keep) in comp.items():
        if not keep:
            a, b = vecs[i], vecs[c]
            cos = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
            assert cos >= 0.99 - 1e-9, (i, c, cos)


def test_minhash_incremental_against_history(spark):
    """Incremental near-dedup: a new batch ingests against the
    persisted band buckets of a prior snapshot — near-copies of
    history are dropped, within-batch near-dup groups keep the min
    id, distinct and shingle-less docs survive. Bucket identity is
    the SAME md5 construction the streaming op claims with."""
    from skrub_spark.dedup.minhash import minhash_buckets, minhash_incremental

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "today across the wide open field"
    )
    other = (
        "completely different text about spark engines and data "
        "pipelines processing large corpora at scale every day"
    )
    hist = spark.createDataFrame(
        [(0, base), (2, other)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (11, base.replace("today", "tonight")),   # near-dup of history
            (13, "fresh unique content with many novel words appearing "
                 "nowhere else in any batch of this corpus"),
            (15, "fresh unique content with many novel words appearing "
                 "nowhere else in any batch of that corpus"),  # near-dup of 13
            (17, "tiny"),                              # shingle-less
        ],
        "doc_id long, text string",
    )
    seen = minhash_buckets(hist).select("band_idx", "band_key").distinct()
    out = minhash_incremental(batch, seen)
    assert {r["doc_id"] for r in out.collect()} == {13, 17}
    # empty history: everything but the within-batch dup survives
    empty = seen.filter("1=0")
    out2 = minhash_incremental(batch, empty)
    assert {r["doc_id"] for r in out2.collect()} == {11, 13, 17}
    # divisibility guard
    import pytest

    with pytest.raises(ValueError, match="divisible"):
        minhash_buckets(hist, n_components=10, n_bands=4)


def test_canonical_url(spark):
    """URL canonicalization rules: case, default ports, fragments,
    tracking params, query sort, empty path; non-default ports and
    real params survive; schemeless strings pass through unchanged."""
    from skrub_spark.operators.domains import canonical_url

    cases = [
        ("HTTP://Site.com:80/a?utm_source=x&b=1#frag", "http://site.com/a?b=1"),
        ("https://Site.com:443/", "https://site.com/"),
        ("https://site.com", "https://site.com/"),
        ("http://site.com:8080/x", "http://site.com:8080/x"),
        ("https://site.com/p?z=2&a=1&fbclid=k&ref=tw", "https://site.com/p?a=1&z=2"),
        ("https://site.com/p?utm_campaign=c", "https://site.com/p"),
        ("not a url", "not a url"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r["c"] for r in df.select(canonical_url("u").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_connected_components_local_matches_distributed(spark):
    """The driver-side union-find fast path returns EXACTLY the
    distributed star algorithm's labels (id -> min reachable id),
    including chains, cross-links, self-pairs and singletons."""
    chain = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(
        chain + [(200, 100), (300, 300), (7, 30)], "id_a int, id_b int"
    )
    local = {
        (r["id"], r["component"])
        for r in connected_components(pairs).collect()
    }
    dist = {
        (r["id"], r["component"])
        for r in connected_components(pairs, local_threshold=0).collect()
    }
    assert local == dist
    # threshold boundary: a pair list larger than the threshold takes
    # the distributed path (same labels)
    over = {
        (r["id"], r["component"])
        for r in connected_components(pairs, local_threshold=3).collect()
    }
    assert over == dist


def test_connected_components_probe_boundary(spark):
    """r12: the fast-path size probe is one bounded limit+collect
    (formerly a count job followed by a collect job). Pin the exact
    boundary: an edge set of size == local_threshold takes the LOCAL
    path, size == local_threshold + 1 the distributed one — both
    with identical labels, including the self-pair singleton that
    only _with_singletons recovers."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)]
    pairs = spark.createDataFrame(
        edges + [(99, 99)], "id_a int, id_b int"
    )
    want = {
        (r["id"], r["component"])
        for r in connected_components(pairs, local_threshold=0).collect()
    }
    at = {
        (r["id"], r["component"])
        for r in connected_components(
            pairs, local_threshold=len(edges)
        ).collect()
    }
    just_under = {
        (r["id"], r["component"])
        for r in connected_components(
            pairs, local_threshold=len(edges) - 1
        ).collect()
    }
    assert at == want
    assert just_under == want
    assert (99, 99) in want
