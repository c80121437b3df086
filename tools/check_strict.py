"""STRICT value-hash gate mimic — the driver-failure-mode detector.

The driver's correctness gate hashes values; ``check_correctness.py``
compares with Python ``==``, which tolerates ``3.0 == 3`` — so a
DuckDB oracle column that comes back float/Decimal where Spark emits
int passes locally and hash-fails only at the driver (the r5
``pretraining_pipeline`` incident). This tool compares rows the way a
value-hash would: canonical (type_name, value) pairs, column-sorted,
row-sorted — any representation difference fails, not just a value
difference. Floats compare by exact bit pattern via ``repr``.

Usage: python tools/check_strict.py [sf_dir] [query_list]
Default sf_dir = /root/testdata/sf0.01 (the driver's gate scale);
default query list = ``WINDOW``, the driver's 50-entry gate.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = (
    sys.argv[2].split(",") if len(sys.argv) > 2 and sys.argv[2] else None
)


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
    import decimal

    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, bytes):
        return ("bytes", v.hex())
    return (type(v).__name__, str(v))


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    from skrub_spark import release
    from skrub_spark.queries import WINDOW

    spark = SparkSession.builder.master("local[8]").getOrCreate()
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
    names = ONLY if ONLY else WINDOW
    failures = []
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: unknown query")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only (no oracle, hash not applicable)")
            continue
        try:
            sdf = qs[name](spark, SF_DIR)
            srows = [row.asDict() for row in sdf.collect()]
            scols = sorted(sdf.columns)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            continue
        finally:
            release(spark)
        try:
            # to_pylist over Arrow: ints stay ints, HUGEINT becomes
            # Decimal — representation drift is VISIBLE, as at the
            # driver
            drows = con.execute(oracles[name]).fetch_arrow_table().to_pylist()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        if len(srows) != len(drows):
            failures.append(name)
            print(f"FAIL {name}: rows {len(srows)} != {len(drows)}")
            continue
        sset = sorted(tuple(strict_canon(r[c]) for c in scols) for r in srows)
        dset = sorted(tuple(strict_canon(r[c]) for c in scols) for r in drows)
        if sset != dset:
            failures.append(name)
            ndiff = sum(1 for a, b in zip(sset, dset) if a != b)
            print(f"FAIL {name}: strict mismatch ({ndiff}/{len(sset)} rows)")
            for a, b in zip(sset, dset):
                if a != b:
                    print(f"  spark : {a}")
                    print(f"  duckdb: {b}")
                    break
        else:
            print(f"PASS {name} ({len(srows)} rows)")
    print()
    if failures:
        print("STRICT FAILURES:", failures)
        sys.exit(1)
    print("all strict-hash green")


if __name__ == "__main__":
    main()
