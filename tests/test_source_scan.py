"""Source scan: the library's hash rule and its NULL sentinel are
written once, in ``functions/hashing.py``, and the removed ``hash=``
and ``use_stub`` switches stay removed. Runs no Spark."""

from __future__ import annotations

import inspect
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "skrub_spark"
# the DuckDB oracle text is the reference and keeps its own spelling
_EXEMPT = {"functions/hashing.py", "queries.py"}
# a hand-written hash rule: conv over a substring (of an md5)
_RULE = re.compile(r"conv\(\s*(?:F\.)?substring\(")
# weighted_reservoir_sample draws u from 52 md5 bits: a different rule
_ALLOWED = {"operators/sampling.py": 1}


def _sources():
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        if rel not in _EXEMPT:
            yield rel, p.read_text(encoding="utf-8")


def test_hash_rule_written_once():
    found = {rel: len(_RULE.findall(src)) for rel, src in _sources()}
    found = {rel: n for rel, n in found.items() if n}
    assert found == _ALLOWED


def test_null_sentinel_written_once():
    assert [rel for rel, src in _sources() if r"\x00<null>" in src] == []


def test_no_hash_switch():
    from skrub_spark.dedup.simhash import dedup_simhash_pairs, simhash_table
    from skrub_spark.encoders.minhash_encoder import MinHashEncoder
    from skrub_spark.functions.hashing import minhash_from_grams, minhash_signature
    from skrub_spark.functions.text import rolling_fingerprint

    for fn in (
        minhash_signature,
        minhash_from_grams,
        MinHashEncoder,
        simhash_table,
        dedup_simhash_pairs,
        rolling_fingerprint,
    ):
        assert "hash" not in inspect.signature(fn).parameters, fn.__name__


def test_no_use_stub_in_multimodal():
    hits = [
        p.name
        for p in sorted((PKG / "multimodal").rglob("*.py"))
        if "use_stub" in p.read_text(encoding="utf-8")
    ]
    assert hits == []
