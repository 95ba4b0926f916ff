"""One query scope: what a declared query holds, and the driver-side gates.

A declared query's lazy result still reads the frames and broadcasts it
acquired here, so ``registry.declare`` runs it ``scoped``: the outermost
declared call first releases what the previous call acquired, and a
nested one (n2f -> n2b, n25 -> n2e, n3g -> n3/n3c, n3c -> n3) joins the
enclosing scope, keeping the outer call's frames live until it returns.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Row, SparkSession

#: Row bound of every driver-side fast path: n2e's broadcast-GEMM corpus
#: (500k x 64 dims x 8 B = 256 MB per executor), the connected-components
#: union-find and the BFS adjacency. Above it the distributed path runs.
DRIVER_MAX_ROWS = 500_000

#: Byte budget of n75's dense adjacency bitset. The bitset is
#: (max_id+1) x ceil((max_id+1)/64) words whatever the edge count, so a
#: row bound cannot bound it.
BITSET_MAX_BYTES = 256 * 1024 * 1024

#: Byte budget of the exact-Jaccard broadcast verify dict (8 B per hashed
#: (doc, shingle) entry), sized like n2e's broadcast matrix. It bounds a
#: structure the driver builds from entries, not rows.
JACCARD_VERIFY_MAX_BYTES = DRIVER_MAX_ROWS * 64

# One scope per process: declared queries run one at a time (a declared
# call on another thread would release the running query's frames). The
# one deliberate cross-query cache, outside the scope, is l9's static
# band index (streaming_queries._L9_INDEX_CACHE), reused by repeated runs.
_frames: list[DataFrame] = []
_broadcasts: list = []
_depth = 0


def persist(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """``df.persist(level)``, released with the current query's scope."""
    _frames.append(df.persist() if level is None else df.persist(level))
    return df


def broadcast(spark: SparkSession, value):
    """``sparkContext.broadcast(value)``, released with the current scope."""
    _broadcasts.append(spark.sparkContext.broadcast(value))
    return _broadcasts[-1]


def bounded_collect(df: DataFrame, max_rows: int = DRIVER_MAX_ROWS) -> list[Row] | None:
    """The rows of ``df``, or None when it has more than ``max_rows``."""
    rows = df.limit(max_rows + 1).collect()
    return rows if len(rows) <= max_rows else None


def release() -> None:
    """Unpersist every frame and broadcast acquired since the last release."""
    while _frames:
        _frames.pop().unpersist()
    while _broadcasts:
        # async unpersist, not destroy(): an in-session A/B measured
        # destroy() stalling the next query by 2-4 s, and a stale frame
        # that re-reads an unpersisted broadcast gets it re-sent
        _broadcasts.pop().unpersist(False)


def scoped(fn: Callable) -> Callable:
    """Run ``fn`` in the query scope (see the module docstring)."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        global _depth
        if _depth == 0:
            release()
        _depth += 1
        try:
            return fn(*args, **kwargs)
        finally:
            _depth -= 1

    return run
