"""Central registry of declared queries.

Every operator this engine claims (SURVEY.md §2) registers here: a name, a
``(spark, sf_dir) -> DataFrame`` callable, and — when SQL-expressible — a
DuckDB oracle string over the same parquet views. ``__spark_entry__.py``
re-exports the registry verbatim, so registering a query *is* declaring it
to the driver's correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from iceberg_v2_to_v3_upgrade_spark import scope

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class DeclaredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, DeclaredQuery] = {}


def _driver_evidenced() -> frozenset[str]:
    """Queries with driver evidence on file: any CORRECTNESS_r*.json row
    that hash-matched, or a rows-only query whose row count was recorded
    (`no_oracle` with spark_rows) — those have consumed their slot's value.
    Makes the 50-slot rotation automatic across rounds: new or
    never-checked queries always sort ahead of evidenced ones."""
    import glob
    import json
    import os

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: set[str] = set()
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            ):
                seen.add(name)
    return frozenset(seen)


def declare(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as a declared query under ``name``.
    What it persists or broadcasts through ``scope`` is released at the
    next top-level declared call; nested declared calls join its scope."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate declared query: {name}")
        fn = scope.scoped(fn)
        REGISTRY[name] = DeclaredQuery(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return wrap


def load_all_operators() -> dict[str, DeclaredQuery]:
    """Import every operator module so its @declare decorators run."""
    # Imports are at call time so `import iceberg_v2_to_v3_upgrade_spark`
    # stays cheap and cycle-free.
    from iceberg_v2_to_v3_upgrade_spark.operators import (  # noqa: F401
        relational,
        advanced,
        dedup,
        similarity,
        text,
        embeddings,
        events,
        lifecycle,
        lifecycle2,
        tpch_extra,
        tpch_extra2,
        advanced2,
        sampling,
        curation,
        relevance,
        text2,
        events2,
        embeddings2,
        advanced3,
        functions2,
        analytics3,
        sources2,
        lifecycle3,
        lifecycle4,
        analytics4,
        fuzzy,
        streaming_queries,
        pipeline3,
        pipeline4,
        analytics5,
        udf_surface,
        lifecycle5,
        analytics6,
        analytics7,
        coreset,
        attribution,
        analytics8,
        analytics9,
        analytics10,
        analytics11,
        analytics12,
        lifecycle6,
        pipeline5,
        lifecycle7,
        lifecycle8,
        analytics13,
        analytics14,
        analytics15,
        analytics16,
        lifecycle9,
        catalog_queries,
        analytics17,
        lifecycle10,
        catalog_queries2,
        security2,
        lifecycle11,
        retrieval2,
        layout,
        analytics18,
        sketches2,
    )
    from iceberg_v2_to_v3_upgrade_spark import multimodal  # noqa: F401
    from iceberg_v2_to_v3_upgrade_spark.multimodal import binary  # noqa: F401

    # The correctness gate checks the first 50 entries of ``queries()``:
    # queries with no CORRECTNESS evidence on file lead, everything else
    # keeps registration order (the sort is stable).
    evidenced = _driver_evidenced()
    names = sorted(REGISTRY, key=lambda n: n in evidenced)
    return {n: REGISTRY[n] for n in names}
