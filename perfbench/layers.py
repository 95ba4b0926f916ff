"""Per-layer metrics of a traced run, from its spans and counters.

``<layer>.ms`` is the time inside outermost calls into the layer and
``<layer>.self_ms`` that time minus the layer's child spans, both summed
over the ops of the timed window. A metric whose layer a workload never
calls reads 0.
"""

from __future__ import annotations

from perfbench.harness import Run, steal_share
from perfbench.queries import QUERIES

#: spans whose total time is reported as ``<name>.ms``
TOTALS = (
    "tables.merge_into", "tables.delete_by_keys", "tables.delete_where",
    "tables.update_set", "tables.rewrite_data_files", "tables.insert",
    "tables.catalog", "tables.verify", "tables.duckdb_reader",
    "tables.expire_snapshots", "tables.remove_orphan_files",
    "tables.rollback_to_snapshot", "io.load_table",
)
#: self time of a layer, or of an op root (the op's uncovered remainder)
SELF = {
    "streaming.ingest.self_ms": "op.batch",
    "sql_router.self_ms": "sql_router",
    "plans.upgrade.self_ms": "plans.upgrade",
}
#: counters averaged over the window's samples
MEANS = ("tables.dirs_in_scope", "tables.bytes_written_per_row",
         "tables.commits_per_op", "tables.scan.read_dirs_ratio",
         "tables.metadata_bytes")
SETUP = ("session.get_spark", "registry.load_all_operators")


def per_layer(run: Run, slots, end_to_end: dict) -> tuple[dict, dict]:
    total, self_ms, by_op = run.tracer.self_times(run.window_ops)
    out: dict[str, float] = {}
    for name in TOTALS:
        out[f"{name}.ms"] = total.get(name, 0.0)
    for metric, span in SELF.items():
        out[metric] = self_ms.get(span, 0.0)
    out["tables.scan.plan_ms"] = total.get("tables.scan", 0.0)
    for name in MEANS:
        vals = run.layer_counts.get(name, [])
        out[name] = sum(vals) / len(vals) if vals else 0.0
    for q in QUERIES:
        out[f"operators.{q}.ms"] = total.get(f"operators.{q}", 0.0)
    for slot, kind in enumerate(slots, start=1):
        jobs, stages, tasks = run.spark_counts.get(kind, (0, 0, 0))
        out[f"spark.jobs.op{slot}"] = jobs
        out[f"spark.stages.op{slot}"] = stages
        out[f"spark.tasks.op{slot}"] = tasks
    for name in SETUP:
        out[f"{name}.ms"] = sum(
            (s[2] - s[1]) * 1e3 for s in run.tracer.spans
            if s[0] == name and s[4] is None and s[2] is not None
        )
    start, end = run.host_start, run.host_end
    out["jvm.gc_ms"] = end["gc_ms"] - start["gc_ms"]
    out["jvm.cpu_s"] = end["jvm_cpu_s"] - start["jvm_cpu_s"]
    out["driver.cpu_s"] = end["driver_cpu_s"] - start["driver_cpu_s"]
    out["pyworker.cpu_s"] = end["pyworker_cpu_s"] - start["pyworker_cpu_s"]
    out["host.calib_ms"] = (start["calib_ms"] + end["calib_ms"]) / 2
    out["host.steal_share"] = steal_share(run)
    out["trace.ops_per_s"] = end_to_end["ops_per_s"]
    # Per op kind: the self times of all spans under the op sum to its
    # wall time; the op root's own self time is the part no wrapped
    # layer covers (py4j waits, Spark actions on lazy frames, harness).
    coverage = {
        op: {
            "ops": v["ops"],
            "wall_ms": v["wall_ms"],
            "sum_self_ms": sum(v["self_ms"].values()),
            "uncovered_ms": v["self_ms"].get(op, 0.0),
            "self_ms_by_layer": dict(sorted(v["self_ms"].items(),
                                            key=lambda kv: -kv[1])),
        }
        for op, v in by_op.items()
    }
    return out, coverage
