"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01, runs the matching
``oracle_sql()`` in DuckDB over the same parquet, and compares
row count, column names, and order-insensitive values (sorted rows,
columns sorted by name). Exits nonzero on any mismatch.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = (
    sys.argv[2].split(",") if len(sys.argv) > 2 and sys.argv[2] else None
)
# optional third arg: path to dump a per-query JSON record (the
# committed CORRECTNESS_full_rN.json artifact for positions 51+,
# which the driver's 50-entry window never reaches)
JSON_OUT = sys.argv[3] if len(sys.argv) > 3 else None


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, (int,)):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 vs 0.0
        return v + 0.0
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except ImportError:
        pass
    return v


def main():
    import os

    import duckdb

    import __spark_entry__ as entrymod
    from skrub_spark import release

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # mimic the DRIVER's environment: a plain SparkSession with
        # stock defaults (200 shuffle partitions, no engine conf) —
        # every query must self-prepare via _prep()
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from skrub_spark import get_session

        spark = get_session(shuffle_partitions=16, master="local[16]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    records = {}

    def fail(name, status, msg):
        # status names the failed check: spark_error, duckdb_error,
        # columns, rowcount or values
        failures.append(name)
        records[name] = {"status": status, "err": msg[:500]}
        print(f"FAIL {name}: {msg}")

    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = list(sdf.columns)
            elapsed = time.time() - t0
        except Exception as e:  # noqa: BLE001
            fail(name, "spark_error", f"spark error: {e}")
            continue
        finally:
            # a failed query's staged blocks must not leak into the next
            release(spark)
        if name not in oracles:
            records[name] = {
                "status": "rows_only", "rows": len(srows),
                "sec": round(elapsed, 2),
            }
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {elapsed:.1f}s)")
            if len(srows) == 0:
                print(f"     WARNING {name}: 0 rows")
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001
            fail(name, "duckdb_error", f"duckdb error: {e}")
            continue
        dcols = ddf.column_names
        if sorted(scols) != sorted(dcols):
            fail(name, "columns", f"columns {sorted(scols)} != {sorted(dcols)}")
            continue
        drows = ddf.to_pylist()
        if len(srows) != len(drows):
            fail(
                name, "rowcount",
                f"rowcount spark={len(srows)} duckdb={len(drows)}",
            )
            continue
        cols = sorted(scols)

        def sort_key(t):
            return tuple((v is None, str(type(v)), v if v is not None else 0) for v in t)

        sset = sorted(
            (tuple(canon(r[c]) for c in cols) for r in (row.asDict() for row in srows)),
            key=sort_key,
        )
        dset = sorted((tuple(canon(r[c]) for c in cols) for r in drows), key=sort_key)
        if sset != dset:
            ndiff = sum(1 for a, b in zip(sset, dset) if a != b)
            fail(name, "values", f"values differ ({ndiff}/{len(sset)} rows)")
            for a, b in list(zip(sset, dset))[:200]:
                if a != b:
                    print(f"  spark : {a}")
                    print(f"  duckdb: {b}")
                    break
        else:
            records[name] = {
                "status": "pass", "rows": len(srows), "sec": round(elapsed, 2),
            }
            print(f"PASS {name} ({len(srows)} rows, {elapsed:.1f}s)")
    if JSON_OUT:
        import json

        with open(JSON_OUT, "w") as f:
            json.dump(
                {"sf_dir": SF_DIR, "results": records}, f, indent=1,
                sort_keys=True,
            )
    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
