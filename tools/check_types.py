"""Column-TYPE strictness sweep over every oracled query.

The driver's correctness gate hashes VALUES; a DuckDB oracle column
that comes back as decimal128/HUGEINT or float64 where Spark emits
int64 can hash-mismatch in a different DuckDB version even when the
numbers are equal (HUGEINT->pandas conversion is version-sensitive:
window SUM(BIGINT) is HUGEINT, float64 under 1.0, decimal under
others). The local value compare tolerates it (3.0 == 3 in Python),
so this sweep is the only guard: it runs each query at sf0.001 and
FLAGS any column whose DuckDB Arrow type family differs from the
Spark type family.

Usage: python tools/check_types.py [sf_dir] [query_list]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ONLY = (
    sys.argv[2].split(",") if len(sys.argv) > 2 and sys.argv[2] else None
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


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

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
    bad = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        if name not in oracles:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            stypes = dict(sdf.dtypes)
        except Exception as e:  # noqa: BLE001
            print(f"SKIP {name}: spark error: {str(e)[:200]}")
            continue
        try:
            # LIMIT 0 would skip execution-dependent typing in some
            # engines; fetch the full (tiny at sf0.001) result.
            tbl = con.execute(oracles[name]).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001
            print(f"SKIP {name}: duckdb error: {str(e)[:200]}")
            continue
        dtypes = {f.name: str(f.type) for f in tbl.schema}
        mism = []
        for col, st in stypes.items():
            if col not in dtypes:
                continue
            fs, fd = family(st), family(dtypes[col])
            if fs != fd:
                # decimal-vs-float is the convention for money cols
                # ONLY when spark emits double and duckdb CASTs to
                # DOUBLE too; decimal on the duckdb side is a flag.
                mism.append((col, st, dtypes[col]))
        if mism:
            bad.append(name)
            print(f"TYPE-MISMATCH {name}:")
            for col, st, dtp in mism:
                print(f"    {col}: spark={st} duckdb={dtp}")
        else:
            print(f"ok   {name}")
    print()
    if bad:
        print("FLAGGED:", bad)
        sys.exit(1)
    print("all types aligned")


if __name__ == "__main__":
    main()
