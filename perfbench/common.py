"""Shared harness: pinned environment, Spark session, timing, results.

Every path the benchmark writes lives under the checkout: a per-run
work directory in ``.bench_work/`` (removed when the run ends) and the
traced runs' span and layer files in ``.bench_out/``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".bench_out")
# Explicit driver heap: the engine defaults to 16g, beyond what a
# shared 15 GB host can promise one benchmark process.
DRIVER_MEM = "3g"
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
# how far past --seconds a run may go to reach its minimum op count
MAX_OVERRUN_S = 60


def pin_environment(work: str) -> int:
    """Pin cores, heap, worker import path, time zone and scratch
    directories before pyspark is imported. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers start outside this process and must import the
    # engine from the checkout, whatever the caller's cwd.
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["TZ"] = "UTC"
    time.tzset()
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file: the JVM would write it to /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cores


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[int, float] | None:
    """The highest listed percentile with at least 10 samples beyond
    it, as (percentile, value); None below 20 samples."""
    n = len(xs)
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    return None


class Bench:
    """One benchmark run: session, work directory, counters, report."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(
            ROOT, ".bench_work", f"{workload}-seed{seed}-pid{os.getpid()}"
        )
        self.cores = pin_environment(self.work)
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # human-readable report: name -> (value, unit), printed in order
        self.report: dict[str, tuple[float, str]] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> None:
        """Launch the JVM and build the engine's Spark session."""
        from logzilla_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("eventlog")
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.spark = get_spark(
            cores=self.cores, app_name=f"perfbench-{self.workload}", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def event_log(self) -> str:
        """Path of the session's event log, complete once Spark stops."""
        return self.path("eventlog", self.spark.sparkContext.applicationId)

    def jvm_rss_peak_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def op(self, ok: bool, what: str) -> bool:
        """Count one attempted op; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def fail(self, n: int, what: str) -> None:
        """Mark ``n`` already-counted ops failed (a later check of their
        output disagreed with the oracle)."""
        self.failed += n
        self.errors.append(what)

    def run_ops(self, op, min_ops: int = 3) -> None:
        """Call ``op(traced)`` until --seconds have passed and enough
        ops are in; ``op`` returns the walls of the ops it completed,
        whether or not their output checked out (a failed check is
        counted by ``op`` itself). An untraced run needs ``min_ops``
        walls. A call that raises counts as one failed op; after three
        of them, or ``MAX_OVERRUN_S`` past --seconds, the run stops
        short and counts that as one more failed op, so a broken
        program still gets its result line. A traced run
        alternates traced and untraced calls, traced first, and needs
        one of each, so the tracing overhead is measured within one
        session; ops still speed up as the JIT warms, so it is an upper
        estimate. Only untraced walls feed the end-to-end metrics."""
        walls: dict[bool, list[float]] = {False: [], True: []}

        def enough() -> bool:
            if self.trace:
                return bool(walls[False]) and bool(walls[True])
            return len(walls[False]) >= min_ops

        start = time.perf_counter()
        n = raised = 0
        while time.perf_counter() - start < self.seconds or not enough():
            if raised >= 3 or time.perf_counter() - start > self.seconds + MAX_OVERRUN_S:
                self.op(False, "stopped short of the minimum op count")
                break
            traced = self.trace and n % 2 == 0
            n += 1
            try:
                walls[traced].extend(op(traced))
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                raised += 1
                self.op(False, f"{type(e).__name__}: {e}")
        self.op_walls = walls[False]
        if self.trace and enough():
            self.put("trace.overhead_frac", median(walls[True]) / median(walls[False]) - 1, "ratio")

    def put(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (value, unit)

    def put_timing(self, name: str, xs: list[float], unit: str, scale: float = 1.0) -> None:
        """Median, and the tail percentile when enough samples exist."""
        self.put(f"{name}_p50_{unit}", median(xs) * scale, unit)
        t = tail(xs)
        if t is not None:
            self.put(f"{name}_tail_{unit}", t[1] * scale, f"{unit} p{t[0]}")
        self.put(f"{name}_n", len(xs), "samples")

    def close(self) -> None:
        """Stop Spark and its JVM, wait for it, drop the work directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def noop_write(df) -> None:
    """Materialize every output column without keeping the rows."""
    df.write.format("noop").mode("overwrite").save()
