"""The oracle battery runner's compare, row hash and diff, without Spark."""

from __future__ import annotations

import decimal
import importlib.util
import json
import os

import pytest

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "check_correctness.py",
)
_spec = importlib.util.spec_from_file_location("check_correctness", _PATH)
cc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(cc)


def _compare(stypes, srows, dtypes, drows):
    return cc.compare(
        stypes, cc.canon_rows(srows, stypes), dtypes, cc.canon_rows(drows, dtypes)
    )


def test_compare_passes_equal_rows_in_any_order():
    stypes = {"k": "bigint", "v": "double"}
    dtypes = {"v": "double", "k": "int64"}
    srows = [{"k": 1, "v": 0.5}, {"k": 2, "v": -0.0}]
    drows = [{"v": 0.0, "k": 2}, {"v": 0.5, "k": 1}]
    assert _compare(stypes, srows, dtypes, drows) is None


def test_compare_fails_int_against_float():
    # same families, so only the strict value compare sees 3 vs 3.0
    status, msg = _compare(
        {"n": "bigint"}, [{"n": 3}], {"n": "int64"}, [{"n": 3.0}]
    )
    assert status == "values"
    assert "('int', '3')" in msg and "('float', '3.0')" in msg


def test_compare_fails_hugeint_decimal_against_int():
    # a window SUM over BIGINT is HUGEINT in DuckDB: Arrow decimal128(38, 0)
    status, _ = _compare(
        {"s": "bigint"}, [{"s": 7}],
        {"s": "decimal128(38, 0)"}, [{"s": decimal.Decimal(7)}],
    )
    assert status == "columns"
    # and the values alone differ too
    assert cc.canon_rows([{"s": 7}], ["s"]) != cc.canon_rows(
        [{"s": decimal.Decimal(7)}], ["s"]
    )


def test_compare_zero_rows_fails_on_type_family():
    status, msg = _compare({"n": "bigint"}, [], {"n": "double"}, [])
    assert status == "columns"
    assert "n: spark=bigint duckdb=double" in msg


def test_compare_column_names_and_rowcount():
    assert _compare({"a": "int"}, [], {"b": "int32"}, [])[0] == "columns"
    assert _compare(
        {"a": "int"}, [{"a": 1}], {"a": "int32"}, [{"a": 1}, {"a": 1}]
    )[0] == "rowcount"


def test_row_hash_ignores_row_and_column_order():
    rows = [{"a": 1, "b": "x"}, {"a": 2, "b": None}]
    swapped = [{"b": None, "a": 2}, {"b": "x", "a": 1}]
    h = cc.row_hash(cc.canon_rows(rows, ["a", "b"]))
    assert h == cc.row_hash(cc.canon_rows(swapped, ["b", "a"]))
    as_float = [{"a": 1, "b": "x"}, {"a": 2.0, "b": None}]
    assert h != cc.row_hash(cc.canon_rows(as_float, ["a", "b"]))


def _record(path, results):
    with open(path, "w") as f:
        json.dump({"sf_dir": "sf", "results": results}, f)
    return str(path)


@pytest.mark.parametrize(
    "change, code",
    [({"sha256": "f00"}, 1), ({"rows": 4}, 1), ({"status": "values"}, 1),
     ({"jobs": 9}, 0), ({}, 0)],
)
def test_diff_fails_on_hash_rows_or_status_not_jobs(tmp_path, capsys, change, code):
    base = {"q": {"status": "pass", "rows": 3, "sha256": "abc", "jobs": 2}}
    a = _record(tmp_path / "a.json", base)
    b = _record(tmp_path / "b.json", {"q": {**base["q"], **change}})
    assert cc.main(["diff", a, b]) == code
    out = capsys.readouterr().out
    assert ("DIFF q" in out) == bool(code)
    assert ("jobs q: 2 -> 9" in out) == ("jobs" in change)


def test_diff_fails_on_a_query_missing_from_one_side(tmp_path):
    rec = {"status": "pass", "rows": 1, "sha256": "abc", "jobs": 1}
    a = _record(tmp_path / "a.json", {"q": rec, "r": rec})
    b = _record(tmp_path / "b.json", {"q": rec})
    assert cc.diff(a, b) == 1
