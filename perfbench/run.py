"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_apply --seed 1 --seconds 25 --trace 0

Run from the root of a checkout of the repository. The run builds its
inputs from ``--seed``, sets up the workload (billed to ``setup_s``),
measures whole cycles for ``--seconds``, checks every op's output, and
prints one JSON result as the last line of stdout. ``--trace 1`` makes a
separate traced run that reports the per-layer metrics instead of the
end-to-end ones. All scratch files go under ``.perfbench_work/`` and the
full record of each run under ``.perfbench_out/``, both in the checkout.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "iceberg_v2_to_v3_upgrade_spark"
WORKLOADS = ("cdc_apply", "mor_lifecycle")
#: local[N] with N at most half of nproc: the driver JVM's own threads,
#: its collector and the Python driver keep the other cores, so the run
#: does not measure the scheduler. On a 4-core host local[2] was also
#: faster than local[4] (perfbench/README.md has the pairs).
CORES = max(1, min(2, (os.cpu_count() or 1) // 2))
#: The driver JVM compiles with C1 only, at a fifth of the default
#: compile thresholds. With the default tiered C2 the per-cycle time was
#: still falling by a third across a 25 s window after a warm-up cycle.
#: With C1 alone it fell over the first dozen ``cdc_apply`` cycles, as
#: code run a few times per batch crossed the thresholds one batch at a
#: time; at a fifth of them the curve is flat from the third cycle on. The code cache is sized so that it never fills. The heap is
#: resident from the start, so peak RSS does not depend on when the
#: collector grew it. perfbench/README.md has the runs.
JVM_OPTS = ("-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.2 "
            "-XX:ReservedCodeCacheSize=512m -Xms1g -XX:+AlwaysPreTouch")
#: Keep the JVMs' temporary files in the checkout.
JVM_FILE_OPTS = "-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work_dir: str) -> None:
    """Keep every file the engine, Spark and Python write in the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_LAUNCHER_OPTS": JVM_FILE_OPTS.format(tmp=tmp),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = tmp
    os.chdir(work_dir)  # spark-warehouse/, metastore_db/, derby.log


def _workload(name: str, run):
    if name == "cdc_apply":
        from perfbench import cdc_apply as mod

        return mod, mod.CdcApply(run)
    from perfbench import mor_lifecycle as mod

    return mod, mod.MorLifecycle(run)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    # A termination request unwinds through the clean-up below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work_dir = os.path.join(ROOT, ".perfbench_work",
                            f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    _prepare_env(work_dir)
    run = harness.Run(args.seed, args.seconds, bool(args.trace), work_dir)
    run.tracer.install()
    mod, wl = _workload(args.workload, run)
    metrics: dict[str, float] = {}
    extra: dict = {}
    try:
        from iceberg_v2_to_v3_upgrade_spark import session

        run.spark = session.get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={"spark.driver.extraJavaOptions": " ".join(
                (JVM_OPTS, JVM_FILE_OPTS.format(tmp=tempfile.gettempdir())))})
        run.spark.sparkContext.setLogLevel("ERROR")
        wl.setup()
        setup_s = time.perf_counter() - T_PROCESS
        ops_per_s = run.window(wl.cycle)
        end_to_end = {
            "setup_s": setup_s,
            "peak_rss_mb": harness.peak_rss_mb(run.spark),
            "ops_per_s": ops_per_s,
            "ok_share": max(0.0, 1 - run.failed / max(run.attempted, 1)),
            **{f"op{i}_p50_ms": harness.p50(run.lat_ms[kind])
               for i, kind in enumerate(mod.SLOTS, start=1)},
        }
        extra["env"] = harness.environment(run)
        extra["latencies_ms"] = dict(run.lat_ms)
        extra["end_to_end"] = end_to_end
        if run.trace:
            from perfbench import layers

            metrics, extra["coverage"] = layers.per_layer(run, mod.SLOTS,
                                                         end_to_end)
            extra["spans"] = run.tracer.spans
        else:
            metrics = end_to_end
    except Exception:  # any failure still ends in a result line
        if not run.errors:
            run._fail(traceback.format_exc())
    finally:
        try:
            wl.close()
            if run.spark is not None:
                run.spark.stop()
        finally:
            extra["killed_pids"] = harness.stop_processes()
            shutil.rmtree(work_dir, ignore_errors=True)
    units = _units()
    result = {
        "correct": not run.errors,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {
            k: {"value": v, "unit": units.get(k, "")}
            for k, v in metrics.items()
        },
    }
    extra["errors"] = run.errors
    harness.emit(
        result, extra,
        os.path.join(ROOT, ".perfbench_out",
                     f"{args.workload}-seed{args.seed}-trace{args.trace}"
                     f"-{os.getpid()}.json"),
    )
    return 0


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
