"""Run context shared by the workloads: machine sizing, the Spark session's
start and stop, metric recording and the percentile helpers."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from spans import Tracer, vm_hwm_mb


def machine_sizing() -> dict:
    """Driver memory from ``MemTotal`` (a quarter of it) and cores from the
    CPU affinity mask, exported the way ``kstream_spark.get_spark`` reads
    them.  Its 16g default driver heap overcommits a 16 GB machine."""
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    cpus = len(os.sched_getaffinity(0))
    sizing = {"SPARK_DRIVER_MEMORY": f"{mem_kb // 4 // 1024}m", "SPARK_GRAFT_CPUS": str(cpus)}
    os.environ.update(sizing)
    return sizing


def heap_options(driver_memory: str) -> str:
    """A fixed JVM heap (initial = maximum) with a fixed young generation
    of a fifth of it.  The collector's adaptive sizing otherwise moves the
    JVM's peak RSS by 10-20% from run to run; fixed, the peak tracks the
    memory the program retains."""
    mb = int(driver_memory.rstrip("m"))
    return f"-Xms{mb}m -Xmn{mb // 5}m"


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    work: str              # scratch directory inside the checkout
    tracer: Tracer
    t0: float              # process start
    sizing: dict
    excluded_s: float = 0.0  # input generation and oracle checks, not setup
    metrics: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    known_failed: int = 0  # failures the benchmark records on purpose
    problems: list = field(default_factory=list)
    windows: list = field(default_factory=list)   # timed intervals, epoch s
    samples: dict = field(default_factory=dict)   # sample counts behind the metrics
    session_start_s: float = 0.0
    spark: object = None
    _jvm: object = None

    @property
    def trace(self) -> bool:
        return self.tracer.enabled

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def check(self, ok: bool, what: str, known_failure: bool = False) -> bool:
        """Count one verified operation; a wrong output is a failure.
        ``known_failure`` marks an operation that fails at the benchmark's
        base commit and is counted, not skipped, until the program is fixed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.known_failed += known_failure
            self.problems.append(what)
        return ok

    def setup_done(self) -> None:
        self.metric("setup_s", time.time() - self.t0 - self.excluded_s, "s")

    def start_spark(self):
        """Start the session with every file Spark writes kept in ``work``;
        the traced run also writes an event log there."""
        from kstream_spark import get_spark
        conf = {
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData "
                + heap_options(self.sizing["SPARK_DRIVER_MEMORY"]),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(f"{self.work}/events", exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"{self.work}/events",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        with self.tracer.span("session.start"):
            t = time.time()
            self.spark = get_spark(app_name=f"perfbench_{self.workload}", extra_conf=conf)
            self.session_start_s = time.time() - t
        from pyspark import SparkContext
        self._jvm = SparkContext._gateway.proc
        return self.spark

    def peak_rss_mb(self) -> float:
        py, jvm = vm_hwm_mb(), vm_hwm_mb(self._jvm.pid)
        self.samples["rss_mb"] = {"python": round(py), "jvm": round(jvm)}
        return py + jvm

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        proc = self._jvm
        proc.stdin.close()           # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:            # noqa: BLE001 - any wait failure: kill
            proc.kill()
            proc.wait()


def pct(values, q: float) -> float:
    """The q-th percentile (0-100), linear between closest ranks."""
    vs = sorted(values)
    if len(vs) == 1:
        return vs[0]
    pos = (len(vs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vs) - 1)
    return vs[lo] + (vs[hi] - vs[lo]) * (pos - lo)
