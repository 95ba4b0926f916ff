"""Span recorder for the traced run.

The benchmark wraps the engine's public functions (see ``LAYERS``) from
this file, so the engine itself stays untouched. Each wrapped call opens a
span ``(name, start, end, parent, op_id)``; spans live in memory and are
written out when the run ends.

Two details matter for this engine:

- ``foreachBatch`` bodies run on a py4j callback thread, whose own span
  stack is empty. A span opened on a thread with no open span is parented
  to the in-flight op's root span, not left as an orphan.
- ``LocalTable.scan()`` is lazy: the span around it covers planning only.
  The Spark action that consumes the frame is timed by the op itself.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: (module, attribute path, span name). An attribute path with a dot is a
#: method on a class in that module.
LAYERS: tuple[tuple[str, str, str], ...] = (
    ("iceberg_v2_to_v3_upgrade_spark.session", "get_spark", "session.get_spark"),
    ("iceberg_v2_to_v3_upgrade_spark.registry", "load_all_operators",
     "registry.load_all_operators"),
    ("iceberg_v2_to_v3_upgrade_spark.io", "load_table", "io.load_table"),
    ("iceberg_v2_to_v3_upgrade_spark.sql_router", "EngineSQL.execute",
     "sql_router"),
    ("iceberg_v2_to_v3_upgrade_spark.plans.upgrade", "execute_upgrade",
     "plans.upgrade"),
    ("iceberg_v2_to_v3_upgrade_spark.tables.verify", "verify_table_in_duckdb",
     "tables.verify"),
    ("iceberg_v2_to_v3_upgrade_spark.tables.duckdb_reader", "duckdb_table_sql",
     "tables.duckdb_reader"),
    ("iceberg_v2_to_v3_upgrade_spark.tables.duckdb_reader",
     "read_table_in_duckdb", "tables.duckdb_reader"),
    *(
        ("iceberg_v2_to_v3_upgrade_spark.tables.catalog", f"LocalCatalog.{m}",
         "tables.catalog")
        for m in ("create_database", "create_table", "load_table",
                  "drop_table", "get_table_info", "table_exists",
                  "list_tables")
    ),
    *(
        ("iceberg_v2_to_v3_upgrade_spark.tables.table", f"LocalTable.{m}",
         f"tables.{m}")
        for m in ("insert", "delete_where", "delete_by_keys", "update_set",
                  "merge_into", "scan", "rewrite_data_files",
                  "set_properties", "expire_snapshots",
                  "remove_orphan_files", "rollback_to_snapshot")
    ),
)


class Tracer:
    """In-memory span store. ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        # [name, start, end, parent_index, op_id]
        self.spans: list[list] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_root: int | None = None
        self._op_id: int | None = None

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._op_root
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent,
                               self._op_id])
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx][2] = time.perf_counter()

    @contextmanager
    def op(self, kind: str, op_id: int):
        """Root span of one timed op; spans opened on other threads while
        it runs are parented to it."""
        if not self.enabled:
            yield
            return
        self._op_id = op_id
        with self.span(f"op.{kind}"):
            self._op_root = self._stack()[-1]
            try:
                yield
            finally:
                self._op_root = None
                self._op_id = None

    def install(self) -> None:
        """Wrap every entry of ``LAYERS``; call once per process."""
        if not self.enabled:
            return
        for module_name, path, name in LAYERS:
            owner = importlib.import_module(module_name)
            *cls_path, attr = path.split(".")
            for part in cls_path:
                owner = getattr(owner, part)
            original = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(original, name))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # ------------------------------------------------------------ reports

    def self_times(self, op_ids: set[int]) -> tuple[dict, dict, dict]:
        """Over the spans of the given ops, per layer name: the total time
        of outermost spans (``ms``) and the self time (span minus the
        union of its children). Also, per op kind, the op wall time and
        its split into the self times of the layers under it."""
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                children[s[3]].append(i)
        total: dict[str, float] = defaultdict(float)
        self_ms: dict[str, float] = defaultdict(float)
        by_op: dict[str, dict] = {}
        for i, (name, start, end, parent, op_id) in enumerate(self.spans):
            if op_id not in op_ids or end is None:
                continue
            covered = _union_ms(
                [(self.spans[c][1], self.spans[c][2] or end)
                 for c in children[i]],
                start, end,
            )
            dur = (end - start) * 1e3
            own = max(dur - covered, 0.0)
            self_ms[name] += own
            if parent is None or self.spans[parent][0] != name:
                total[name] += dur
            root = i
            while self.spans[root][3] is not None:
                root = self.spans[root][3]
            op = by_op.setdefault(self.spans[root][0], {
                "ops": 0, "wall_ms": 0.0, "self_ms": defaultdict(float)})
            op["self_ms"][name] += own
            if root == i:
                op["ops"] += 1
                op["wall_ms"] += dur
        return dict(total), dict(self_ms), by_op


def _union_ms(intervals: list[tuple[float, float]], lo: float,
              hi: float) -> float:
    """Length in ms of the union of ``intervals`` clipped to [lo, hi]."""
    out = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                out += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        out += cur_e - cur_s
    return out * 1e3
