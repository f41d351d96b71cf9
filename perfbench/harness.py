"""Run context shared by the workloads: sessions, set-up timing, memory,
the result stamp and the final result line."""

from __future__ import annotations

import glob
import hashlib
import os
import statistics
import subprocess
import time

from perfbench.tracing import Tracer

#: set-ups per run; ``setup_s`` is their median. Each set-up also stops the
#: previous session, which is not timed but takes seconds of the run budget.
SETUPS = 3


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def source_id(root: str) -> dict:
    """The git commit when the checkout is a repository, else a digest of
    the package sources (a benchmark checkout carries no ``.git``)."""
    if os.path.exists(os.path.join(root, ".git")):
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return {"commit": out.stdout.strip()}
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(
            root, "kafka_connect_streams_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return {"commit": None, "source_sha256": h.hexdigest()[:16]}


def cpu_times() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``, first line)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_times` readings that the
    hypervisor gave to other guests (``steal``, the 8th counter): high values
    mean the run competed with other machines for the host's CPUs."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Run:
    """One benchmark run: arguments, scratch space, the Spark session and,
    when tracing, the tracer."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool, work: str):
        self.root, self.workload = root, workload
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = work
        self.tracer = Tracer(os.path.join(work, "spans")) if trace else None
        self.event_log = os.path.join(work, "eventlog")
        self.spark = None
        self._jvm_pid = None
        #: the timed units (deltas or queries), in seconds, for the stamp
        self.unit_s: list[float] = []
        self._cpu0 = cpu_times()

    # -- Spark session -------------------------------------------------------

    def _conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.trace:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": self.event_log})
        return conf

    def launch_jvm(self) -> float:
        """Start the JVM with a throw-away session; returns its launch time."""
        from kafka_connect_streams_spark.engine import get_spark
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{self.workload}", self._conf())
        took = time.perf_counter() - t0
        self._jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        spark.stop()
        return took

    def _stop_session(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def new_session(self):
        """A fresh session through the package's engine (the previous one
        must be stopped); returns (session, seconds spent in ``get_spark``)."""
        from kafka_connect_streams_spark.engine import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", self._conf())
        return self.spark, time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext
        self._stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                # the JVM exits when its stdin closes
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def memory(self) -> dict[str, float]:
        """Peak RSS so far of this process, of the JVM, and their sum."""
        py = vm_hwm_mb("self")
        jvm = vm_hwm_mb(self._jvm_pid) if self._jvm_pid else 0.0
        return {"mem.peak_rss_mb": py + jvm, "mem.python_peak_rss_mb": py,
                "mem.jvm_peak_rss_mb": jvm}

    # -- set-up ----------------------------------------------------------------

    def repeated_setup(self, build):
        """Run ``build(spark, i)`` after a fresh session, :data:`SETUPS` times.

        ``build`` returns ``(state, layer_times)``. The last state is kept.
        Stopping the previous session is not timed.
        Returns (state, setup_s, {layer: median seconds})."""
        totals, layers = [], {}
        state = None
        for i in range(SETUPS):
            self._stop_session()
            t0 = time.perf_counter()
            spark, session_s = self.new_session()
            state, times = build(spark, i)
            totals.append(time.perf_counter() - t0)
            for k, v in {"engine.session_s": session_s, **times}.items():
                layers.setdefault(k, []).append(v)
        return state, median(totals), {k: median(v) for k, v in layers.items()}

    # -- result ----------------------------------------------------------------

    def stamp(self, sf: float) -> dict:
        import pyspark
        return {"workload": self.workload, "seed": self.seed, "sf": sf,
                "seconds": self.seconds, "trace": int(self.trace),
                "cpus": cpus(), "pyspark": pyspark.__version__,
                "SPARK_GRAFT_SHUFFLE": os.environ.get("SPARK_GRAFT_SHUFFLE",
                                                      "32 (engine default)"),
                "unit_s": [round(x, 3) for x in self.unit_s],
                "cpu_steal_share": round(steal_share(self._cpu0, cpu_times()), 4),
                **source_id(self.root)}
