"""Pins of the driver contract's registry.

``queries()`` order and ``oracle_sql()`` text are what the driver
hashes; a refactor of the registry must leave both byte-identical.
The hashes below were taken from the registry before it was
rewritten as declared tuples, so any reorder, rename or oracle edit
shows up here first. Change them only together with a deliberate
change to the registry, and say so in the change log.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import skrub_spark.queries as q_mod
from skrub_spark.queries import BATTERY, WINDOW, oracle_sql, queries

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES_ORDER_SHA = (
    "d611f9c193ae3c137bd108846f09fbdd687baaf18d324b5b7dc54035fe32940d"
)
ORACLE_SQL_SHA = (
    "34babe78130f6c4b6335d0f790cc2c65f7894bded533fc32c70eb415783eaad4"
)


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def test_queries_order_pinned():
    assert _sha(list(queries())) == QUERIES_ORDER_SHA


def test_oracle_sql_pinned():
    assert _sha(sorted(oracle_sql().items())) == ORACLE_SQL_SHA


def test_every_query_function_registered_once():
    qs = queries()
    declared = WINDOW + BATTERY
    assert len(declared) == len(set(declared)) == len(qs)
    defined = {
        n[2:]
        for n in dir(q_mod)
        if n.startswith("q_") and callable(getattr(q_mod, n))
    }
    assert set(qs) == defined
    assert all(fn is getattr(q_mod, f"q_{n}") for n, fn in qs.items())


def test_window_is_the_driver_gate():
    assert len(WINDOW) == len(set(WINDOW)) == 50
    assert list(WINDOW) == list(queries())[:50]


def test_oracles_name_registered_queries():
    assert set(oracle_sql()) <= set(queries())


def test_headline_is_duplicate_free_subset():
    from bench import HEADLINE

    assert len(HEADLINE) == len(set(HEADLINE))
    assert set(HEADLINE) <= set(queries())
