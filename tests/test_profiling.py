"""Dependency profiling: ``report/profiling.py``."""

from __future__ import annotations


def test_fd_profile_holds_and_violations(spark):
    from skrub_spark.report.profiling import fd_profile

    rows = [
        (1, "x", "p"),
        (2, "x", "p"),
        (3, "y", "q"),
        (4, "y", "r"),   # y -> two rhs values: violation
        (5, "z", None),  # NULL rhs counts as a value
    ]
    df = spark.createDataFrame(rows, "id long, l string, r string")
    out = {x["lhs"] + "->" + x["rhs"]: x for x in fd_profile(
        df, [("l", "r"), ("id", "l")]
    ).collect()}
    fd = out["l->r"]
    assert fd["n_groups"] == 3
    assert fd["n_violating"] == 1 and not fd["holds"]
    assert fd["max_rhs_per_group"] == 2
    assert out["id->l"]["holds"]


def test_candidate_keys_detects_dups(spark):
    from skrub_spark.report.profiling import candidate_keys

    rows = [(1, "a"), (2, "a"), (3, "b")]
    df = spark.createDataFrame(rows, "id long, g string")
    out = {r["cols"]: r for r in candidate_keys(
        df, [["id"], ["g"], ["id", "g"]]
    ).collect()}
    assert out["id"]["is_key"] and out["id"]["n_dup_rows"] == 0
    assert not out["g"]["is_key"]
    assert out["g"]["n_dup_rows"] == 2  # the two 'a' rows
    assert out["id,g"]["is_key"]


def test_candidate_keys_nulls_repeats_and_empty_input(spark):
    from skrub_spark.report.profiling import candidate_keys

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", None), (3, None, None), (4, None, "x")],
        "id long, g string, h string",
    )
    cands = [["id"], ["g"], ["g", "h"], ["g"], ["h", "g"]]
    got = sorted(tuple(r) for r in candidate_keys(df, cands).collect())
    # NULL keys group by their NULL tuple; a repeated candidate (and a
    # reordered one) gets its own row with the same counts
    assert got == [
        ("g", 4, 2, 4, False),
        ("g", 4, 2, 4, False),
        ("g,h", 4, 3, 2, False),
        ("h,g", 4, 3, 2, False),
        ("id", 4, 4, 0, True),
    ]
    empty = candidate_keys(spark.createDataFrame([], df.schema), cands)
    assert sorted(tuple(r) for r in empty.collect()) == sorted(
        (",".join(c), None, 0, None, None) for c in cands
    )
    assert empty.columns == [
        "cols", "n_rows", "n_distinct", "n_dup_rows", "is_key",
    ]


def test_candidate_keys_job_count(spark, sf_dir, count_jobs):
    """All candidates share one GROUPING SETS pass: a per-candidate
    scan or an extra action adds jobs and fails this pin."""
    from skrub_spark.report.profiling import candidate_keys
    from skrub_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    cands = [["o_orderkey"], ["o_custkey"], ["o_custkey", "o_orderdate"]]
    candidate_keys(orders, cands).collect()
    _, jobs = count_jobs(
        "keys", lambda: candidate_keys(orders, cands).collect()
    )
    assert jobs <= 4
