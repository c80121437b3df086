"""Source scan: the library's hash rule and its NULL sentinel are
written once, in ``functions/hashing.py``, the word-tokenizer split
once, in ``functions/text.py``, and the removed ``hash=``,
``use_stub``, ``bloom=`` and ``salt=`` switches stay removed. Runs no
Spark."""

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


def test_no_bloom_or_salt_on_overlap_operators():
    from skrub_spark.dedup.contamination import (
        decontaminate_train,
        ngram_contamination,
    )
    from skrub_spark.dedup.density import duplication_density, ngram_novelty
    from skrub_spark.streaming.ops import streaming_decontaminate

    for fn in (ngram_contamination, decontaminate_train, streaming_decontaminate):
        assert "bloom" not in inspect.signature(fn).parameters, fn.__name__
    for fn in (duplication_density, ngram_novelty):
        assert "salt" not in inspect.signature(fn).parameters, fn.__name__
    # one exact membership join: no Bloom prefilter under dedup/ or streaming/
    hits = [
        p.relative_to(PKG).as_posix()
        for d in ("dedup", "streaming")
        for p in sorted((PKG / d).rglob("*.py"))
        if re.search(r"functions\.bloom|from \.+functions import bloom",
                     p.read_text(encoding="utf-8"))
    ]
    assert hits == []


def test_word_split_written_once():
    # queries.py's DuckDB oracles replay the split in their own SQL
    hits = [
        p.relative_to(PKG).as_posix()
        for p in sorted(PKG.rglob("*.py"))
        if "[^a-z0-9]+" in p.read_text(encoding="utf-8")
    ]
    assert hits == ["functions/text.py", "queries.py"]


def test_streaming_gate_cap_matches_batch():
    from skrub_spark.dedup.contamination import (
        decontaminate_train,
        ngram_contamination,
    )
    from skrub_spark.streaming.ops import streaming_decontaminate

    caps = {
        fn.__name__: inspect.signature(fn).parameters["max_grams_per_doc"].default
        for fn in (ngram_contamination, decontaminate_train, streaming_decontaminate)
    }
    assert len(set(caps.values())) == 1, caps
