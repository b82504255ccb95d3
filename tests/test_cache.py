"""Cache lifetimes: every library persist and checkpoint goes through
``operators/cache.py``, and no block outlives the scope it was made in."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from language_identification_spark.operators.cache import pair_cache_scope
from language_identification_spark.operators.linkgraph import pagerank
from language_identification_spark.operators.vocab import bpe_train_merges

PKG = Path(__file__).resolve().parents[1] / "language_identification_spark"
CACHE_CALLS = {"persist", "unpersist", "localCheckpoint", "checkpoint", "cache"}


def _persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _pagerank(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("d", "c")],
        "src string, dst string",
    )
    return pagerank(edges, n_iter=5)


def _bpe(spark):
    docs = spark.createDataFrame(
        [("the cat sat on the mat",), ("that hat is not the cat's hat",)],
        "text string",
    )
    return bpe_train_merges(docs, n_merges=6, collect_threshold=0)[1]


@pytest.mark.parametrize("make", [_pagerank, _bpe], ids=["pagerank", "bpe"])
def test_iterative_checkpoints_leave_only_the_result(spark, make):
    """Each round's checkpoint is freed once the next round is
    materialized: after the call exactly one new persistent RDD is live
    (the returned result's blocks), and none once the scope exits."""
    before = _persistent_ids(spark)
    with pair_cache_scope():
        out = make(spark)
        assert len(_persistent_ids(spark) - before) == 1
        assert out.count() > 0  # the result is still readable
    assert _persistent_ids(spark) - before == set()


def test_one_cache_module():
    """No library module outside operators/cache.py persists, caches or
    checkpoints on its own."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "operators" / "cache.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in CACHE_CALLS
            ):
                hits.append(f"{path.relative_to(PKG)}:{node.lineno} .{node.func.attr}(")
    assert hits == []
