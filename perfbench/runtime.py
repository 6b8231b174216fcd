"""Process plumbing shared by the workloads: the Spark session, host and
JVM counters, percentiles, and the run's result record."""

from __future__ import annotations

import os
import platform
import time
from dataclasses import dataclass, field

#: Fixed task concurrency, so runs on hosts with more cores stay comparable.
MASTER = "local[4]"

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def start_session(workdir: str):
    """Start the program's own session (``get_spark``) with every file the
    JVM writes kept under ``workdir``. Returns ``(spark, seconds)``."""
    from ser_etl_spark.session import get_spark

    jtmp = os.path.join(workdir, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    # the short-lived launcher JVM of spark-submit, too, writes no perf data
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    start = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=MASTER,
        conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={jtmp} -Dderby.system.home={workdir} "
                "-XX:-UsePerfData"
            ),
            # job/stage records for the traced run's counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    return spark, time.perf_counter() - start


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway server exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort at exit
            proc.kill()
            proc.wait(timeout=10)


class JvmProbe:
    """Counters of the driver JVM: CPU from ``/proc/<pid>/stat``, GC time
    from the GC MXBeans (over py4j), peak RSS from ``VmHWM``."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / _CLK_TCK

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._beans))

    def peak_rss_mb(self) -> float:
        return (_vm_hwm_kb(self.pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def host_steal_s() -> float:
    """Cumulative CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


class Window:
    """JVM CPU, GC and host steal accumulated between ``start`` and ``stop``."""

    def __init__(self, probe: JvmProbe) -> None:
        self.probe = probe

    def start(self) -> None:
        self._t = time.perf_counter()
        self._c, self._g, self._s = (
            self.probe.cpu_s(), self.probe.gc_ms(), host_steal_s()
        )

    def stop(self) -> None:
        self.wall_s = time.perf_counter() - self._t
        self.cpu_s = self.probe.cpu_s() - self._c
        self.gc_ms = self.probe.gc_ms() - self._g
        self.steal_s = host_steal_s() - self._s


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``values`` (``q`` in [0, 1])."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


@dataclass
class Result:
    """What one workload run reports."""

    end_to_end: dict[str, tuple[float, str]] = field(default_factory=dict)
    per_layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    #: reported beside the metrics but never gated (host noise, context)
    context: dict[str, object] = field(default_factory=dict)
    attempted: int = 0
    #: one line per failed operation or check
    failures: list[str] = field(default_factory=list)
    #: named correctness checks -> "ok" / "FAILED (...)"
    checks: dict[str, str] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failures.append(what)


def run_context(spark, seed: int, window: Window) -> dict[str, object]:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "seed": seed,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "host.steal_s": window.steal_s,
        "jvm.cpu_s": window.cpu_s,
        "jvm.gc_ms": window.gc_ms,
    }
