"""Run harness shared by the workloads: the op timer, the whole-cycle
window, correctness accounting, host/process probes and the result line.
"""

from __future__ import annotations

import json
import os
import platform
import resource
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

from perfbench.trace import Tracer


class Run:
    """One benchmark process: a seeded workload measured for ``seconds``.

    Every timed op goes through :meth:`op`; every correctness check goes
    through :meth:`check`, outside the op's timer. A failed op or check
    counts once in ``failed`` and makes the run incorrect; an op that
    raises also ends the run.
    """

    def __init__(self, seed: int, seconds: float, trace: bool,
                 work_dir: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = work_dir
        self.tracer = Tracer(trace)
        self.lat_ms: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.timing = False  # True inside the timed window
        self.window_ops: set[int] = set()
        self.layer_counts: dict[str, list[float]] = defaultdict(list)
        self.spark_counts: dict[str, list[int]] = defaultdict(
            lambda: [0, 0, 0]
        )
        self.spark = None

    # ------------------------------------------------------------ ops

    def op(self, kind: str, fn, *args, **kwargs):
        """Time one op. Inside the window its latency is recorded under
        ``kind``; in set-up (warm-up) it runs the same way, unrecorded."""
        op_id = len(self.tracer.spans) if self.trace else self.attempted
        jobs0 = self._job_mark() if self.trace else None
        if self.timing:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op(kind, op_id):
                out = fn(*args, **kwargs)
        except Exception:
            self._fail(f"op {kind} raised:\n{traceback.format_exc()}")
            raise
        ms = (time.perf_counter() - t0) * 1e3
        if self.timing:
            self.lat_ms[kind].append(ms)
            if self.trace:
                self.window_ops.add(op_id)
                self._count_jobs(kind, jobs0)
        return out

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """Count a disagreement as a failed op; the run goes on."""
        if not ok:
            self._fail(f"check {what} failed: {detail}")

    def _fail(self, msg: str) -> None:
        self.failed += 1
        if not self.timing:  # a set-up failure still fails the run
            self.attempted += 1
        self.errors.append(msg)
        print(msg, file=sys.stderr, flush=True)

    def count(self, name: str, value: float) -> None:
        """Record one sample of a per-layer count (traced runs only)."""
        if self.trace and self.timing:
            self.layer_counts[name].append(value)

    # ----------------------------------------------------------- window

    def window(self, cycle) -> float:
        """Run whole ``cycle()`` calls until the window is spent. A cycle
        starts only if half the mean cycle so far fits in the time left, so
        the op mix of every run is made of whole cycles. Returns the
        median over cycles of timed ops per cycle second: every cycle has
        the same op mix, and the median keeps one cycle slowed by the host
        from moving the run's throughput."""
        self.timing = True
        self.host_start = host_probe(self)
        t0 = time.perf_counter()
        cycle_s: list[float] = []
        rates: list[float] = []
        while True:
            left = self.seconds - (time.perf_counter() - t0)
            if cycle_s and left < statistics.fmean(cycle_s) * 0.5:
                break
            ops0 = self.attempted
            c0 = time.perf_counter()
            cycle()
            cycle_s.append(time.perf_counter() - c0)
            rates.append((self.attempted - ops0) / cycle_s[-1])
        self.timing = False
        self.host_end = host_probe(self)
        self.cycle_s = cycle_s
        return statistics.median(rates)

    # ------------------------------------------------------ spark counts

    def _job_mark(self) -> int:
        jobs = self.spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _count_jobs(self, kind: str, before: int) -> None:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        it = store.jobsList(None).iterator()
        acc = self.spark_counts[kind]
        while it.hasNext():
            job = it.next()
            if job.jobId() <= before:
                break  # jobsList is newest first
            acc[0] += 1
            acc[1] += job.stageIds().size()
            acc[2] += job.numTasks()


# ------------------------------------------------------------- probes


def calib_ms() -> float:
    """Fixed host calibration probe: a pure-Python loop, reported only."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1e3


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), steal


def _proc_cpu_s(pid: int, reaped: bool = False) -> float:
    """utime + stime of ``pid`` (fields 14-15 of its stat line); with
    ``reaped``, plus cutime + cstime of its waited-for children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = fields[11:15] if reaped else fields[11:13]
    return sum(int(v) for v in ticks) / os.sysconf("SC_CLK_TCK")


def _descendants_cpu_s(pid: int) -> float:
    return sum(_proc_cpu_s(p, reaped=True) for p in _descendants(pid))


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids[p])
        todo.extend(kids[p])
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(timeout: float = 30.0) -> list[int]:
    """Stop every process this run started and wait until each has ended.

    The Spark JVM exits when its stdin closes; the Python workers it
    forked exit after it. Processes still alive after ``timeout`` seconds
    are killed. Returns the pids that had to be killed.
    """
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # a dead gateway is what we want anyway
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    killed = []
    if not _wait_gone(pids, timeout):
        for pid in pids:
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                    killed.append(pid)
                except ProcessLookupError:
                    pass
        _wait_gone(pids, timeout)
    return killed


def _wait_gone(pids: list[int], timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while True:
        _reap()
        if not any(_alive(p) for p in pids):
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.05)


def _reap() -> None:
    """Collect any ended child so it leaves no zombie behind."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def host_probe(run: Run) -> dict:
    """CPU and GC counters at one instant; differenced over the window."""
    total, steal = _cpu_ticks()
    pid = jvm_pid(run.spark)
    gc_ms = 0
    jvm = run.spark.sparkContext._jvm
    for bean in jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans():
        gc_ms += max(bean.getCollectionTime(), 0)
    t = os.times()
    return {
        "calib_ms": calib_ms(),
        "ticks": total,
        "steal": steal,
        "jvm_cpu_s": _proc_cpu_s(pid),
        "pyworker_cpu_s": _descendants_cpu_s(pid),
        "driver_cpu_s": t.user + t.system,
        "gc_ms": gc_ms,
    }


def peak_rss_mb(spark) -> float:
    """Peak RSS of the JVM plus the Python driver, in MiB."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = jvm_pid(spark)
    if pid:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def environment(run: Run) -> dict:
    sc = run.spark.sparkContext
    jvm = sc._jvm
    return {
        "nproc": os.cpu_count(),
        "master": sc.master,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "spark": run.spark.version,
        "python": platform.python_version(),
        "host.calib_ms": [run.host_start["calib_ms"],
                          run.host_end["calib_ms"]],
        "host.steal_share": steal_share(run),
        "cycle_s": run.cycle_s,
    }


def steal_share(run: Run) -> float:
    ticks = run.host_end["ticks"] - run.host_start["ticks"]
    steal = run.host_end["steal"] - run.host_start["steal"]
    return steal / ticks if ticks else 0.0


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def emit(result: dict, extra: dict, out_path: str) -> None:
    """Write the full record to ``out_path`` and print the result line
    last on stdout."""
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump({**extra, "result": result}, f, indent=1, default=str)
    print(json.dumps(extra.get("env", {}), default=str))
    print(json.dumps(result), flush=True)
