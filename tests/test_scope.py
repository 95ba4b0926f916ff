"""The query scope (``iceberg_v2_to_v3_upgrade_spark.scope``): every cached
frame and broadcast an operator acquires goes through it, the next
top-level declared call releases them, nested declared calls join the
enclosing scope, and ``bounded_collect`` is the one driver-side size gate.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.broadcast import Broadcast

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.registry import load_all_operators

from tests.conftest import SF_SMALL

PKG = Path(__file__).resolve().parents[1] / "iceberg_v2_to_v3_upgrade_spark"

#: The one documented exemption: l9's static band index
#: (``_L9_INDEX_CACHE``) is a deliberate cross-query cache.
EXEMPT = {"operators/streaming_queries.py": 1}

#: A declared query that acquires nothing: the "next query" of each check.
FOLLOW_UP = "q1_pricing_summary"


def _direct_acquisitions(path: Path) -> list[int]:
    """Lines calling ``.persist(``/``.cache()``/``sparkContext.broadcast(``
    other than through ``scope``."""
    lines = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        fn = node.func
        if fn.attr in ("persist", "cache"):
            if not (isinstance(fn.value, ast.Name) and fn.value.id == "scope"):
                lines.append(node.lineno)
        elif fn.attr == "broadcast" and (
            isinstance(fn.value, ast.Attribute) and fn.value.attr == "sparkContext"
        ):
            lines.append(node.lineno)
    return lines


def test_operators_acquire_only_through_the_scope():
    found = {}
    for sub in ("operators", "multimodal"):
        for path in sorted((PKG / sub).glob("*.py")):
            lines = _direct_acquisitions(path)
            if lines:
                found[f"{sub}/{path.name}"] = lines
    assert {k: len(v) for k, v in found.items()} == EXEMPT, found


def test_bounded_collect_at_and_above_the_bound(spark):
    df = spark.range(5)
    assert [r.id for r in scope.bounded_collect(df, max_rows=5)] == list(range(5))
    assert scope.bounded_collect(df, max_rows=4) is None
    assert scope.bounded_collect(df.limit(0), max_rows=5) == []


@pytest.mark.parametrize(
    "name",
    [
        "n2b_ngram_jaccard_pairs",
        "n2e_embedding_cosine_neardup",
        "n75_triangle_count",
        "n113_semdedup_cluster_prune",
        "n117_margin_bitext_mining",
        "n67_pca_power_iteration",
    ],
)
def test_next_declared_call_releases_the_scope(spark, monkeypatch, name):
    registry = load_all_operators()
    follow_up = registry[FOLLOW_UP].fn
    jsc = spark.sparkContext._jsc

    def persistent_rdds() -> set[int]:
        return {int(k) for k in jsc.getPersistentRDDs().keySet()}

    created, unpersisted = [], set()
    real_broadcast, real_unpersist = SparkContext.broadcast, Broadcast.unpersist

    def spy_broadcast(self, value):
        created.append(real_broadcast(self, value))
        return created[-1]

    def spy_unpersist(self, blocking=False):
        unpersisted.add(id(self))
        return real_unpersist(self, blocking)

    follow_up(spark, SF_SMALL).collect()  # release what earlier tests left
    before = persistent_rdds()
    monkeypatch.setattr(SparkContext, "broadcast", spy_broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", spy_unpersist)

    registry[name].fn(spark, SF_SMALL).collect()
    held = persistent_rdds() - before
    assert held or created, f"{name} acquired nothing: the check is vacuous"
    follow_up(spark, SF_SMALL).collect()

    assert persistent_rdds() - before == set()
    assert all(id(bc) in unpersisted for bc in created)


def test_nested_declared_call_joins_the_outer_scope(spark, monkeypatch):
    registry = load_all_operators()
    releases = []
    real_release = scope.release
    monkeypatch.setattr(
        scope, "release", lambda: (releases.append(1), real_release())
    )
    # n2f calls n2b: only the outer call releases, and the frames the
    # nested n2b call persisted stay cached while n2f's result reads them
    out = registry["n2f_dedup_clusters"].fn(spark, SF_SMALL)
    assert len(releases) == 1
    shingled, df_counts = scope._frames[:2]
    assert shingled.storageLevel.useMemory and df_counts.storageLevel.useMemory
    assert out.collect()
    registry[FOLLOW_UP].fn(spark, SF_SMALL).collect()
    assert len(releases) == 2
    assert not shingled.storageLevel.useMemory
    assert not df_counts.storageLevel.useMemory


def test_nested_call_keeps_frames_acquired_before_it(spark):
    registry = load_all_operators()

    @scope.scoped
    def outer(spark, sf_dir):
        mine = scope.persist(spark.range(7).selectExpr("id * 3 AS x"))
        mine.count()
        registry["n2b_ngram_jaccard_pairs"].fn(spark, sf_dir).collect()
        assert mine.storageLevel.useMemory
        return mine

    mine = outer(spark, SF_SMALL)
    assert mine.storageLevel.useMemory
    registry[FOLLOW_UP].fn(spark, SF_SMALL).collect()
    assert not mine.storageLevel.useMemory


def test_n75_array_adjacency_fallback_matches_bitset(spark, monkeypatch):
    """Both sides of n75's dense-bitset byte budget give the same row."""
    n75 = load_all_operators()["n75_triangle_count"].fn
    bitset = n75(spark, SF_SMALL).collect()
    assert len(scope._broadcasts) == 2  # the bitset and popcount tables
    monkeypatch.setattr(scope, "BITSET_MAX_BYTES", 0)
    fallback = n75(spark, SF_SMALL).collect()
    assert scope._broadcasts == []  # array-adjacency join: no broadcast
    assert bitset[0]["n_triangles"] > 0
    assert fallback == bitset
