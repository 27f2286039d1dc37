"""Process-level plumbing: the launch environment, one fresh JVM per
session, and the PSS sampler behind ``peak_rss_mb``.

Everything here is launch-time configuration the benchmark owns; the
program's own ``session.get_spark`` builds every session unchanged.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def launch_env(root: str, work: str) -> None:
    """Environment every JVM and Python worker of this run starts with:
    ``local[nproc]``, the checkout on the workers' import path, and every
    scratch location inside the work dir."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


class SparkHost:
    """One JVM at a time, each started fresh through ``get_spark`` and
    stopped completely (context, gateway and launcher process)."""

    def __init__(self) -> None:
        self.spark = None
        self._proc = None

    def start(self, app: str, event_log_dir: str | None = None):
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            raise RuntimeError("a JVM is still running")
        confs = ["spark.ui.showConsoleProgress=false"]
        if event_log_dir:
            confs += [
                "spark.eventLog.enabled=true",
                f"spark.eventLog.dir=file://{event_log_dir}",
                "spark.eventLog.compress=false",
                "spark.eventLog.rolling.enabled=false",
            ]
        args = [a for c in confs for a in ("--conf", c)] + ["pyspark-shell"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
        from pypdfocr_spark.session import get_spark

        self.spark = get_spark(app)
        self._proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            try:
                if gw is not None:
                    gw.shutdown()
            finally:
                if self._proc is not None:
                    if self._proc.stdin:
                        self._proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        self._proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        self._proc.kill()
                        self._proc.wait(timeout=30)
                    self._proc = None
                SparkContext._gateway = None
                SparkContext._jvm = None


def stop_descendants(grace: float = 20.0) -> None:
    """Last resort before exit: terminate, then kill, every process this
    one started that is still running (say a JVM whose launch a signal
    cut short), and wait until each has ended."""
    pids = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            for p in pids:
                try:
                    os.waitpid(p, os.WNOHANG)  # reaps direct children
                except ChildProcessError:
                    pass
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_ticks() -> tuple[int, int, int, int]:
    """``(total, steal, busy, ours)`` clock ticks so far: the machine's
    total, hypervisor steal and busy time from ``/proc/stat``, and the
    CPU time of this process and every process it started."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    total, busy, steal = sum(v), v[0] + v[1] + v[2] + v[5] + v[6], v[7]
    ours = 0
    for p in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        ours += int(fields[11]) + int(fields[12])  # utime + stime
    return total, steal, busy, ours


def cpu_share(t0: tuple[int, int, int, int], t1: tuple[int, int, int, int]) -> dict:
    """Shares of the machine's CPU time between two ``cpu_ticks`` readings
    lost to hypervisor steal and used by processes outside this run."""
    total = max(t1[0] - t0[0], 1)
    other = max((t1[2] - t0[2]) - (t1[3] - t0[3]), 0)
    return {"steal": (t1[1] - t0[1]) / total, "other": other / total}


def pss_mb(pids: list[int]) -> float:
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue  # the process ended between listing and reading
    return total_kb / 1024.0


class PssSampler:
    """Peak summed PSS of every process this one started (the JVM, the
    Python daemon and its workers), sampled every ``period`` seconds.
    psutil is not installed, so it reads ``/proc/<pid>/smaps_rollup``."""

    def __init__(self, period: float = 2.0) -> None:
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_mb(descendants(me)))
            self._stop.wait(self.period)

    def __enter__(self) -> PssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
