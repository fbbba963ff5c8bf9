"""Fixture-generator seeds and the local core-count default."""

from __future__ import annotations

import os

from machine_readability_checker_spark.session import default_cores
from machine_readability_checker_spark.sources.fixtures import gen_doc


def test_gen_doc_accepts_seeds_past_numpy_range():
    # 5000 * 1_000_003 exceeds 2**32, numpy's RandomState seed limit
    docs = [gen_doc(i, seed=5000) for i in range(4)]
    again = [gen_doc(i, seed=5000) for i in range(4)]
    assert [bytes(d["content"]) for d in docs] == [bytes(d["content"]) for d in again]
    assert all(len(d["content"]) > 0 for d in docs)
    other = [gen_doc(i, seed=5001) for i in range(4)]
    assert [bytes(d["content"]) for d in docs] != [bytes(d["content"]) for d in other]


def test_default_cores(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == "3"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cores() == str(len(os.sched_getaffinity(0)))
