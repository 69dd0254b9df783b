"""Harness shared by the workloads: session start, the op runner with a
time cap and failure isolation, process counters from ``/proc``, and the
result record."""

from __future__ import annotations

import ctypes
import os
import signal
import statistics
import subprocess
import threading
import time
import traceback

# Per-op time cap. A capped op is cancelled through its job group and
# counts as failed; the run goes on with the next op.
OP_CAP_S = 60.0


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default), 0 for no values."""
    vals = sorted(values)
    if not vals:
        return 0.0
    pos = (len(vals) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def proc_status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def proc_write_bytes(pid: int) -> int:
    """Bytes ``pid`` has dirtied in the page cache (``write_bytes``).
    The kernel counts whole pages, again for a page re-dirtied after
    write-back, so runs of the same work differ by a fifth and more: a
    per-layer number, not a bounded one."""
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("write_bytes:"):
                return int(line.split()[1])
    return 0


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (the
    JVM's Python workers once the JVM has gone), so that
    ``stop_children`` can wait for every process the run started."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def child_pids() -> list[int]:
    me = os.getpid()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            pids.append(int(d))
    return pids


def stop_children(grace_s: float = 20.0) -> None:
    """Wait for every child process to end and reap it: they get
    ``grace_s`` to end by themselves after SIGTERM, then SIGKILL."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        for pid in child_pids():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                time.sleep(0.05)


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files


class Bench:
    """One benchmark process: the Spark session, the timed-op ledger and
    the failure ledger. Workloads call ``op`` for every operation that
    counts towards ``attempted``."""

    def __init__(self, workload: str, seed: int, trace: bool, work: str):
        self.workload, self.seed = workload, seed
        self.trace = trace
        self.work = work
        self.attempted = 0
        self.failures: list[dict] = []
        self.spark = None
        self.jvm_pid = None
        self.peak_rss_parts = (0.0, 0.0)
        self.tracer = None
        self.inputs: dict = {}
        self.lat: dict | None = None   # kind -> op -> latencies, set while timing
        self.op_seconds: dict = {}     # op name -> [seconds], every call
        self.setup_parts: dict = {}    # set-up step -> seconds
        self._n = 0

    # ------------------------------------------------------------ session
    def start_spark(self, **extra_conf: str):
        """Start the session through the package's ``get_spark``, with
        every scratch location pointed inside the run's work directory.
        Returns the seconds ``get_spark`` took."""
        from rust_graph_db_spark import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # For every JVM, the spark-submit launcher included: temp files
        # stay in the work directory, and no hsperfdata file, which the
        # JVM rewrites all run long and which would show up as disk
        # writes that no Spark work caused.
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
        }
        if self.trace:
            logs = os.path.join(self.work, "eventlog")
            os.makedirs(logs, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": logs,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            })
        # The heap starts at its maximum: the JVM then does not grow it
        # by GC-time heuristics, which made the peak RSS of identical
        # runs differ by a fifth.
        conf["spark.driver.extraJavaOptions"] = "-Xms" + os.environ["SPARK_DRIVER_MEM"]
        conf.update(extra_conf)
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", **conf)
        took = time.perf_counter() - t0
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle
                           .current().pid())
        return took

    def stop_spark(self) -> None:
        """Stop the session and its JVM and wait until the JVM has ended.
        The JVM leaves when its stdin closes; ``stop_children`` makes sure
        of it and of any process the JVM started."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass  # stop_children ends it

    # ------------------------------------------------------------ ops
    def op(self, name: str, fn, kind: str = "read"):
        """Run ``fn`` as one attempted operation under its own job group.

        A watchdog cancels the group once ``OP_CAP_S`` have passed, and keeps
        cancelling until ``fn`` returns, so a multi-job operator cannot
        outlive its cap by starting new jobs. Any exception is recorded
        with the op name and type and ``(None, seconds)`` is returned;
        the caller carries on. While a phase is timed, the latency is
        filed under ``kind`` (``read`` or ``write``)."""
        self.attempted += 1
        self._n += 1
        sc = self.spark.sparkContext
        group = f"pb-op{self._n}"
        sc.setJobGroup(group, name, interruptOnCancel=True)
        done = threading.Event()

        def watchdog():
            if done.wait(OP_CAP_S):
                return
            while not done.is_set():
                sc.cancelJobGroup(group)
                done.wait(0.5)

        dog = threading.Thread(target=watchdog, daemon=True)
        dog.start()
        result = None
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.span(name):
                    result = fn()
            else:
                result = fn()
        except Exception as exc:  # boundary: one failed op must not end the run
            self.fail(name, type(exc).__name__, traceback.format_exc(limit=3))
            result = None
        finally:
            took = time.perf_counter() - t0
            done.set()
            dog.join(timeout=5)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.op_seconds.setdefault(name, []).append(took)
        if self.lat is not None:
            self.lat.setdefault(kind, {}).setdefault(name, []).append(took)
        return result, took

    def record_inputs(self, rec: dict) -> None:
        """Record {table: {rows, bytes}} with the broadcast threshold
        in force when the table is read."""
        threshold = int(self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        for name, r in rec.items():
            self.inputs[name] = dict(r, threshold=threshold)

    def fail(self, name: str, kind: str, detail: str = "") -> None:
        self.failures.append({"op": name, "error": kind, "detail": detail[-600:]})

    def wrong(self, name: str, detail: str) -> None:
        """An op whose output failed its reference check."""
        self.fail(name, "WrongOutput", detail)

    # ------------------------------------------------------------ counters
    def peak_rss_mb(self) -> float:
        """Driver plus JVM ``VmHWM``; the two parts stay in ``peak_rss_parts``."""
        driver = proc_status_kb(os.getpid(), "VmHWM") / 1024.0
        jvm = proc_status_kb(self.jvm_pid, "VmHWM") / 1024.0 if self.jvm_pid else 0.0
        self.peak_rss_parts = (driver, jvm)
        return driver + jvm

    def jvm_write_bytes(self) -> int:
        return proc_write_bytes(self.jvm_pid)
