"""Run scaffolding shared by the workloads: work directory, Spark session,
failure accounting, process memory and clean shutdown."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mib(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run: inputs, outputs and the tallies it reports."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{workload}-s{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        # the workload's own metrics, by the names its docs use
        self.report: dict[str, tuple[float, str]] = {}
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.ctx: dict = {}  # workload results the traced digest reads
        self.spark = None
        self._jvm_proc = None
        self.session_build_s = 0.0
        self.t_start = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Log wall time since the run began, at the end of ``phase``."""
        log(f"  [{time.perf_counter() - self.t_start:7.2f}s] {phase}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def ok(self, what: str, problems: list[str] | None = None) -> bool:
        """Count one attempted operation or check; False if it failed."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)
            return False
        return True

    def put(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (float(value), unit)

    # ---------- Spark ----------

    def start_spark(self):
        """Build the session the way the program does, with the benchmark's
        own memory, scratch and (traced runs only) event-log settings."""
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        # Python workers import the package from the checkout
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp  # the gateway's connection file goes here
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # a fixed-size heap: GC timing then varies less between runs
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}",
        }
        if self.trace:
            ev = self.path("events")
            os.makedirs(ev)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + ev
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        from e_commerce_batch_etl_pipeline_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{cpus()}]", extra_conf=conf,
        )
        self.session_build_s = time.perf_counter() - t0
        self._jvm_proc = self.spark.sparkContext._gateway.proc
        return self.spark

    def peak_rss_mib(self) -> float:
        """Summed VmHWM of this Python driver and its JVM."""
        return vm_hwm_mib(os.getpid()) + vm_hwm_mib(self._jvm_proc.pid)

    def stop_spark(self) -> None:
        """Stop Spark (flushing the event log) and wait for the JVM."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        try:
            gateway.shutdown()
        finally:
            proc = self._jvm_proc
            if proc is not None and proc.poll() is None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        try:
            os.rmdir(parent)
        except OSError:
            pass


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
