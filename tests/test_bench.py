"""The bench's tracer reads through evicted skipped stages."""

from __future__ import annotations

import os
import sys
import urllib.error

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from perfbench.sparktrace import Tracer  # noqa: E402


def _not_found(self, path):
    raise urllib.error.HTTPError(path, 404, "Not Found", {}, None)


def test_evicted_stage_reads_as_no_attempts(monkeypatch):
    monkeypatch.setattr(Tracer, "_get", _not_found)
    tracer = object.__new__(bench._BenchTracer)
    assert tracer._get("/stages/7") == []
    with pytest.raises(urllib.error.HTTPError):
        tracer._get("/jobs/7")
