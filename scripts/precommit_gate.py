"""Pre-commit gate: strict-sweep every query whose defining module is
touched by the staged diff, plus the scoped plan-quality suites.

This is the guard the round-3 postmortem asked for: `k12_aqe_skew_join`
shipped broken in the literal end-of-round commit because nothing FORCED
the repo's own recipe ("strict_sweep on touched queries before
committing"). Install with::

    bash scripts/install_hooks.sh

Behavior:
- No staged changes under ``iceberg_v2_to_v3_upgrade_spark/`` -> pass.
- Engine-core files (tables/, sql_router, session, io, registry, scope) touched
  -> run the smoke subset (SMOKE_QUERIES) at sf0.001.
- operators/ modules touched -> strict-sweep EVERY query declared in
  those modules at sf0.001 (exact Spark-vs-DuckDB values) and run the
  plan-quality suites scoped to them.
- ``SPARK_GRAFT_SKIP_GATE=1`` bypasses (documented escape hatch; the
  round-end full sweep still catches anything skipped).

sf0.001 keeps the gate under ~1 min for a typical one-module diff; it is
a smoke gate, not the full sf0.01/sf0.1 sweep the round-end runs.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_GATE_SF", "/root/testdata/sf0.001")
CORE_PREFIXES = (
    "iceberg_v2_to_v3_upgrade_spark/tables/",
    "iceberg_v2_to_v3_upgrade_spark/sql_router.py",
    "iceberg_v2_to_v3_upgrade_spark/session.py",
    "iceberg_v2_to_v3_upgrade_spark/io.py",
    "iceberg_v2_to_v3_upgrade_spark/registry.py",
    "iceberg_v2_to_v3_upgrade_spark/scope.py",
    "iceberg_v2_to_v3_upgrade_spark/streaming/",
    "iceberg_v2_to_v3_upgrade_spark/multimodal/",
    "iceberg_v2_to_v3_upgrade_spark/functions/",
    "iceberg_v2_to_v3_upgrade_spark/plans/",
)
#: Cross-section sentinels exercising scan/DML/MV/permission/plan paths.
SMOKE_QUERIES = [
    "a1_scan_order_by",
    "q1_pricing_summary",
    "i3_table_lifecycle",
    "i7_merge_upsert",
    "i13_incremental_neardup",
    "k2_salted_join",
    "k12_aqe_skew_join",
    "n2b_ngram_jaccard_pairs",
    # broadcast-GEMM: a scope-released broadcast on the benchmark path
    "n2e_embedding_cosine_neardup",
    # streaming CDC: one delete_by_keys(added=...) commit per batch
    "l8_stream_cdc_apply",
    # streaming upsert: the same keyed batch without an op column
    "l7_stream_upsert_table",
    # MoR scan, per-dir side: partitioned dirs under evolved specs
    "i23_partition_evolution",
    # MoR scan, grouped side: several eq deletes with a re-insert
    "i45_eq_delete_cdc",
    # row-level change step: MERGE with dict SET and WHEN conditions
    "i27_conditional_merge",
    # row-level change step: partitioned INSERT OVERWRITE
    "i30_insert_overwrite",
    # dir-stats pruning, stats taken from the written files' footers
    "i14_stats_file_skipping",
    # second-engine read: DuckDB compiles the table's MoR merge itself
    "i40_duckdb_table_read",
]


def staged_files() -> list[str]:
    out = subprocess.run(
        ["git", "diff", "--cached", "--name-only"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    return [f for f in out.splitlines() if f.strip()]


def queries_in_modules(modules: set[str]) -> list[str]:
    from iceberg_v2_to_v3_upgrade_spark.registry import load_all_operators

    registry = load_all_operators()
    names = []
    for name, q in registry.items():
        mod = getattr(q.fn, "__module__", "") or ""
        path = mod.replace(".", "/") + ".py"
        if path in modules:
            names.append(name)
    return sorted(names)


def main() -> int:
    if os.environ.get("SPARK_GRAFT_SKIP_GATE") == "1":
        print("precommit gate: skipped via SPARK_GRAFT_SKIP_GATE=1")
        return 0
    files = staged_files()
    touched = [f for f in files if f.startswith("iceberg_v2_to_v3_upgrade_spark/")]
    if not touched:
        return 0
    # The gate imports and runs the WORKING TREE, but the commit ships
    # the STAGED content — a partially-staged engine file would be
    # validated against code that is not being committed. Refuse.
    unstaged = subprocess.run(
        ["git", "diff", "--name-only"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.splitlines()
    mixed = sorted(set(touched) & set(unstaged))
    if mixed:
        print(
            "precommit gate: REFUSED — these staged files also have "
            "unstaged edits, so the sweep would validate code that is "
            "not being committed:\n  " + "\n  ".join(mixed) + "\n"
            "Stage the remaining edits (or stash them) and retry."
        )
        return 1
    op_modules = {f for f in touched if "/operators/" in f}
    core_touched = any(f.startswith(CORE_PREFIXES) for f in touched)

    # Count-drift check (round-4 judge finding: COVERAGE.md said 289
    # while the registry had 290 because the final commit skipped
    # update_counts.py): any registry-affecting diff must ship COVERAGE.md
    # already matching len(queries()). update_counts.py is idempotent, so
    # "running it changes nothing" IS the check; on drift it leaves the
    # refreshed file in the worktree ready to stage.
    # The commit ships the STAGED COVERAGE.md, so that is what must match
    # the regenerated counts — comparing the worktree copy lets a stale
    # staged file through (and spuriously refuses a fresh one) whenever
    # the two differ.
    # This runs BEFORE the no-targets early return (round-5 advisor
    # finding): a commit that DELETES an operator module shrinks the
    # registry but leaves zero surviving queries mapped to the touched
    # files, which is exactly the case where the drift check must fire.
    if op_modules or core_touched:
        cov = os.path.join(REPO, "COVERAGE.md")
        subprocess.run(
            [sys.executable, "scripts/update_counts.py"],
            cwd=REPO,
            capture_output=True,
            check=True,
        )
        regenerated = open(cov).read()
        staged = subprocess.run(
            ["git", "show", ":COVERAGE.md"],
            cwd=REPO,
            capture_output=True,
            text=True,
        )
        if staged.returncode != 0 or staged.stdout != regenerated:
            print(
                "precommit gate: REFUSED — the staged COVERAGE.md does not "
                "match the registry counts; scripts/update_counts.py has "
                "refreshed the worktree copy, `git add COVERAGE.md` and retry."
            )
            return 1

    targets: list[str] = []
    if op_modules:
        targets += queries_in_modules(op_modules)
    if core_touched:
        targets += [q for q in SMOKE_QUERIES if q not in targets]
    if not targets:
        return 0

    print(f"precommit gate: strict-sweeping {len(targets)} quer(ies) at {SF}")
    r = subprocess.run(
        [sys.executable, "scripts/strict_sweep.py", SF, *targets], cwd=REPO
    )
    if r.returncode != 0:
        print("precommit gate: STRICT SWEEP FAILED — commit rejected")
        return 1
    if op_modules:
        expr = " or ".join(sorted(targets))
        r = subprocess.run(
            [
                sys.executable,
                "-m",
                "pytest",
                "tests/test_plan_quality.py",
                "tests/test_plan_quality_r3d.py",
                "tests/test_plan_quality_r3e.py",
                "-q",
                "-k",
                expr,
            ],
            cwd=REPO,
        )
        if r.returncode not in (0, 5):  # 5 = no tests matched -k
            print("precommit gate: PLAN SUITES FAILED — commit rejected")
            return 1
    print("precommit gate: green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
