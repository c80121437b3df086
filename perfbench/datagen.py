"""Seeded inputs for the benchmark.

``write_star_schema`` writes the ten test tables the query registry
reads (the TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``) with the same column names, types and value shapes as
the repository's test data, drawn from ``numpy`` with a fixed seed.
Each table is one parquet file with one row group, so a Spark scan of
a small table is one partition, as with the test data.

``curation_corpus`` builds the LLM-curation corpus the way
``bench.py::scale_demos`` does: 40-word documents over a 5000-word
vocabulary, with every ``DUP_EVERY``-th document a verbatim copy of
its predecessor, so the planted duplicate pairs are known exactly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "red", "blue", "new", "old"]
PART_NOUN = ["ring", "bolt", "plate", "rod", "anvil", "gear", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
N_SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10

DUP_EVERY = 50


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (test-data ratios)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: str, rng, span: int, n: int) -> pa.Array:
    day0 = np.datetime64(start, "us")
    off = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(day0 + off, pa.timestamp("us"))


def _pick(rng, values, n, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng, n: int) -> dict:
    n_words = rng.integers(10, 101, n)
    texts = [" ".join(_pick(rng, VOCAB, k)) for k in n_words]
    # 5% planted near-duplicates: another document's text plus " dup"
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, EMB_LABELS, n).astype(np.int32)
    centers = rng.normal(0.0, 0.6, (EMB_LABELS, EMB_DIM))
    x = rng.normal(0.0, 1.0, (n, EMB_DIM)) + centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(x.ravel(), EMB_DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": labels,
        }
    )


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as arrow tables; the same seed gives the same
    bytes."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    nc, ns, np_, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"],
        n["lineitem"], n["events"],
    )
    i32 = np.int32
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=i32) % 5,
        },
        "customer": {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        },
        "supplier": {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        },
        "part": {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    _pick(rng, PART_ADJ, np_), _pick(rng, PART_NOUN, np_)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": _pick(rng, PART_TYPES, np_),
            "p_size": rng.integers(1, 51, np_).astype(i32),
            "p_retailprice": 900.0 + (np.arange(np_) % 1000) / 10.0,
        },
        "orders": {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days("1995-01-01", rng, 2405, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
            "l_partkey": rng.integers(0, np_, nl, dtype=np.int64),
            "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days("1995-01-02", rng, 2499, nl),
        },
        "events": {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us")
                + np.sort(rng.integers(0, 30 * 86_400_000_000, ne)).astype(
                    "timedelta64[us]"
                ),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, max(15, nc // 10), ne, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        },
        "documents": _documents(rng, n["documents"]),
    }
    out = {name: pa.table(cols) for name, cols in tables.items()}
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``; returns the
    row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in star_schema(seed, sf).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
        rows[name] = table.num_rows
    return rows


def write_parquet_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files of equal row
    ranges, so a scan of ``out_dir`` has ``n_files`` partitions."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
        )


def curation_corpus(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents (``doc_id``, ``text``) of 40 words over a
    5000-word vocabulary. Document ``i`` with ``i % DUP_EVERY == 1``
    is a verbatim copy of document ``i - 1``, so the planted duplicate
    pairs are exactly ``(i - 1, i)`` for those ``i``."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array([f"w{k}" for k in range(5000)], dtype=object)
    idx = rng.integers(0, len(vocab), (n_docs, 40))
    ids = np.arange(n_docs, dtype=np.int64)
    dup = ids[ids % DUP_EVERY == 1]
    idx[dup] = idx[dup - 1]
    texts = [" ".join(row) for row in vocab[idx]]
    return pa.table({"doc_id": ids, "text": texts})
