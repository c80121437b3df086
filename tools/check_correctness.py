"""The oracle battery: the local stand-in for the driver's correctness
gate, and the one runner for values, type families, row hashes and jobs.

Each ``queries()`` entry is built and collected once on Spark inside a
job group, and its ``oracle_sql()`` is fetched once from DuckDB over
the same parquet. The checks, in order, name a failure's status:

- ``spark_error``, then ``duckdb_error``;
- ``columns``: the name set, and per column the Spark type family
  against the Arrow type family. This is the only check that sees a
  mismatch on a zero-row or all-null column;
- ``rowcount``;
- ``values``: sorted rows, columns sorted by name, under
  :func:`strict_canon`, which compares ``(type, repr)`` as a value-hash
  does: ``3`` is not ``3.0``, and a HUGEINT ``Decimal`` is not an ``int``.

Every record, rows-only ones included, carries ``sha256`` (of the
sorted canonical rows) and ``jobs`` (the Spark jobs that building and
collecting the query ran). The run prints the job total and exits
nonzero on any failure.

Usage::

    python tools/check_correctness.py [sf_dir] [query_list] [json_out]
    python tools/check_correctness.py diff A.json B.json

``query_list`` is comma-separated (empty: every query). With
``SPARK_GRAFT_VANILLA=1`` the run uses a plain ``SparkSession`` with
stock defaults, as the driver does, so every query must prepare its
own session state. ``diff`` runs no Spark: it lists every query whose
``status``, ``rows`` or ``sha256`` differs between two ``json_out``
files and exits nonzero if there is one. A ``jobs`` difference is
reported without failing, because a query's job count can depend on
what ran before it in the session.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def family(t: str) -> str:
    """Collapse a type name to a comparison family."""
    t = t.lower()
    if any(k in t for k in ("int", "long", "short", "byte")) and "interval" not in t:
        return "int"
    if any(k in t for k in ("float", "double", "halffloat")):
        return "float"
    if "decimal" in t:
        return "decimal"
    if "bool" in t:
        return "bool"
    if any(k in t for k in ("string", "varchar", "large_string", "utf8")):
        return "str"
    if "timestamp" in t:
        return "timestamp"
    if "date" in t:
        return "date"
    if any(k in t for k in ("list", "array")):
        return "list"
    return t


def strict_canon(v):
    """(type_tag, canonical_repr) — representation-sensitive."""
    if v is None:
        return ("null", "")
    if isinstance(v, bool):
        return ("bool", str(v))
    if isinstance(v, int):
        return ("int", str(v))
    if isinstance(v, float):
        # repr is bit-faithful for doubles; collapse -0.0 only
        return ("float", repr(v + 0.0))
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("list", tuple(strict_canon(x) for x in v))
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, bytes):
        return ("bytes", v.hex())
    return (type(v).__name__, str(v))


def canon_rows(rows, cols) -> list[tuple]:
    """Row dicts as sorted tuples of :func:`strict_canon` values, with
    the columns ``cols`` in name order."""
    cols = sorted(cols)
    return sorted(tuple(strict_canon(r[c]) for c in cols) for r in rows)


def row_hash(rows: list[tuple]) -> str:
    """sha256 of :func:`canon_rows` output."""
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def compare(stypes: dict, srows: list, dtypes: dict, drows: list):
    """The first failed check as ``(status, message)``, or ``None``.

    ``stypes`` and ``dtypes`` map each column to its Spark and Arrow
    type name; ``srows`` and ``drows`` are :func:`canon_rows` output."""
    if sorted(stypes) != sorted(dtypes):
        return "columns", f"columns {sorted(stypes)} != {sorted(dtypes)}"
    bad = [
        f"{c}: spark={stypes[c]} duckdb={dtypes[c]}"
        for c in sorted(stypes)
        if family(stypes[c]) != family(dtypes[c])
    ]
    if bad:
        return "columns", "type families differ: " + "; ".join(bad)
    if len(srows) != len(drows):
        return "rowcount", f"rowcount spark={len(srows)} duckdb={len(drows)}"
    pairs = [(a, b) for a, b in zip(srows, drows) if a != b]
    if pairs:
        a, b = pairs[0]
        return "values", (
            f"values differ ({len(pairs)}/{len(srows)} rows)\n"
            f"  spark : {a}\n  duckdb: {b}"
        )
    return None


def collect(spark, name: str, fn, sf_dir: str):
    """Build and collect one query inside job group ``name``, then free
    its staged blocks. Returns ``(types, row dicts, error, jobs)``."""
    from skrub_spark import release

    sc = spark.sparkContext
    sc.setJobGroup(name, "oracle battery")
    try:
        sdf = fn(spark, sf_dir)
        out = dict(sdf.dtypes), [r.asDict() for r in sdf.collect()], None
    except Exception as e:  # noqa: BLE001
        out = None, None, e
    jobs = len(sc.statusTracker().getJobIdsForGroup(name))
    sc.setJobGroup(None, None)
    # a failed query's staged blocks must not leak into the next
    release(spark)
    return (*out, jobs)


def diff(a_path: str, b_path: str) -> int:
    """Print what differs between two ``json_out`` records; 1 when a
    ``status``, ``rows`` or ``sha256`` differs, else 0."""
    a, b = (json.load(open(p))["results"] for p in (a_path, b_path))
    n_bad = 0
    for name in sorted(a.keys() | b.keys()):
        ra, rb = a.get(name, {}), b.get(name, {})
        keys = [k for k in ("status", "rows", "sha256") if ra.get(k) != rb.get(k)]
        if keys:
            n_bad += 1
            print(f"DIFF {name}: " + ", ".join(
                f"{k} {ra.get(k)} -> {rb.get(k)}" for k in keys
            ))
        if ra.get("jobs") != rb.get("jobs"):
            print(f"jobs {name}: {ra.get('jobs')} -> {rb.get('jobs')}")
    totals = [sum(r.get("jobs") or 0 for r in x.values()) for x in (a, b)]
    print(f"\n{len(a)} vs {len(b)} queries, jobs {totals[0]} -> {totals[1]}")
    print(f"{n_bad} differ" if n_bad else "no differences")
    return 1 if n_bad else 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["diff"]:
        if len(argv) != 3:
            print("usage: check_correctness.py diff A.json B.json")
            return 2
        return diff(argv[1], argv[2])
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1].split(",")) if len(argv) > 1 and argv[1] else None
    json_out = argv[2] if len(argv) > 2 else None

    sys.path.insert(0, ROOT)
    import duckdb

    import __spark_entry__ as entrymod

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from skrub_spark import get_session

        spark = get_session(shuffle_partitions=16, master="local[16]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = sorted(only - qs.keys()) if only else []
    for name in failures:
        print(f"FAIL {name}: unknown query")
    records = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        stypes, rows, err, jobs = collect(spark, name, fn, sf_dir)
        rec = records[name] = {"jobs": jobs, "sec": round(time.time() - t0, 2)}
        verdict = None
        if err is not None:
            verdict = "spark_error", f"spark error: {err}"
        else:
            srows = canon_rows(rows, stypes)
            rec.update(rows=len(srows), sha256=row_hash(srows))
            if name in oracles:
                try:
                    tbl = con.execute(oracles[name]).fetch_arrow_table()
                except Exception as e:  # noqa: BLE001
                    verdict = "duckdb_error", f"duckdb error: {e}"
                else:
                    verdict = compare(
                        stypes, srows,
                        {f.name: str(f.type) for f in tbl.schema},
                        canon_rows(tbl.to_pylist(), tbl.column_names),
                    )
        if verdict is not None:
            failures.append(name)
            rec.update(status=verdict[0], err=verdict[1][:500])
            print(f"FAIL {name}: {verdict[1]}")
        elif name in oracles:
            rec["status"] = "pass"
            print(f"PASS {name} ({rec['rows']} rows, {jobs} jobs, {rec['sec']}s)")
        else:
            rec["status"] = "rows_only"
            print(f"ok?  {name}: rows-only ({rec['rows']} rows, {jobs} jobs, {rec['sec']}s)")
            if not rec["rows"]:
                print(f"     WARNING {name}: 0 rows")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "results": records}, f, indent=1,
                sort_keys=True,
            )
    print(f"\njobs: {sum(r['jobs'] for r in records.values())}")
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
