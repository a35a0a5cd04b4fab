"""Shared benchmark machinery: host sizing, the Spark session, the timed loop,
failure accounting, memory high-water marks and process teardown.

Every workload object receives one ``Bench``. Its operations return their own
measured seconds; set-up parts and per-layer numbers go into ``Bench.layers``.
"""

from __future__ import annotations

import os
import resource
import statistics
import subprocess
import sys
import time
import traceback


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(ram_mb: int) -> int:
    """A quarter of the host's RAM, clamped to [1, 4] GiB: the single local
    JVM holds the Spark driver and every executor thread, and the host is shared."""
    return max(1024, min(4096, ram_mb // 4))


def loadavg_1m() -> float:
    return os.getloadavg()[0]


class Bench:
    """Run state shared by the workloads: session, seed, budget, counters."""

    def __init__(self, work: str, seed: int, seconds: int, trace: bool):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layers: dict[str, float] = {}

    # -- session -----------------------------------------------------------
    def start_spark(self) -> float:
        """Start the session at local[nproc]; returns the seconds it took."""
        cores = host_cores()
        # the engine's CLI builds its own session through get_spark(); pin
        # the core count it reads so both agree on the shuffle width
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        # the environment variable overrides spark.local.dir; pin both
        os.environ["SPARK_LOCAL_DIRS"] = local
        from lk_data_test_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cores=cores,
            driver_memory=f"{driver_memory_mb(host_ram_mb())}m",
            extra={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # no hsperfdata files in the host's /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                # the traced run folds job/stage metrics out of the status
                # store by time window; keep enough history for a whole run
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "40000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_spark(self) -> None:
        """Stop the session, then the JVM and the Python workers it spawned,
        and wait until each has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        children = _descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        _wait_gone(children, timeout=30)

    # -- accounting ----------------------------------------------------------
    def attempt(self, label: str, fn, *args, **kwargs):
        """Run one operation with its output checks; an exception or a failed
        check counts it as failed. Returns (ok, seconds, value)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            value = fn(*args, **kwargs)
            ok = True
        except CheckFailed as e:
            value, ok = None, False
            self._fail(label, str(e))
        except Exception:
            value, ok = None, False
            self._fail(label, traceback.format_exc(limit=4))
        return ok, time.perf_counter() - t0, value

    def _fail(self, label: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{label}: {why}")
        print(f"FAILED {label}: {why}", file=sys.stderr)

    def timed_loop(self, label: str, op) -> list[float]:
        """Repeat ``op`` until ``seconds`` have elapsed (at least once).
        ``op`` times itself and returns its measured seconds, so load
        generation and output checks inside it stay outside the figure.
        A failed operation ends the loop (the run is already incorrect) and
        contributes its wall time."""
        times: list[float] = []
        deadline = time.perf_counter() + self.seconds
        while True:
            ok, wall, sec = self.attempt(f"{label}[{len(times)}]", op)
            times.append(sec if ok else wall)
            if not ok or time.perf_counter() >= deadline:
                return times

    # -- memory ----------------------------------------------------------------
    def peak_rss_mb(self) -> float:
        """JVM VmHWM plus this Python process's ru_maxrss."""
        from pyspark import SparkContext

        jvm_kb = 0
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        self_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + self_kb) / 1024.0


class CheckFailed(Exception):
    """An output check found a wrong result."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                # reap our own children; others are reparented on exit
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            if _is_zombie(pid):
                break
            time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
