"""Process set-up shared by the benchmark's workloads: the work directory,
the Spark session, peak-memory sampling and shutdown.

Everything the benchmark writes lands under ``<checkout>/.kgbench_work``:
Spark's local and temporary directories, the warehouse, the event log,
inputs, checkpoints and the graph sink. The directory is removed when the
run ends.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

CORES = 4
DRIVER_MEM = "2g"


class Workdir:
    """A fresh per-run directory under the checkout, removed on close."""

    def __init__(self, root: Path, name: str):
        self.path = root / ".kgbench_work" / f"{name}-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse", "eventlog"):
            (self.path / sub).mkdir(parents=True)

    def __truediv__(self, name: str) -> Path:
        return self.path / name

    def close(self) -> None:
        """Remove the run's directory; the parent keeps traced runs'
        span files."""
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            self.path.parent.rmdir()  # only when nothing else is in it
        except OSError:
            pass


def start_spark(root: Path, work: Workdir, trace: bool):
    """``waka_spark.session.get_spark`` at ``local[4]``, confined to
    ``work``. With ``trace`` the session writes an uncompressed,
    unrolled JSON event log into ``work/eventlog``."""
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [str(root)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(CORES),
        "WAKA_DRIVER_MEM": DRIVER_MEM,
        "WAKA_LOCAL_DIR": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
    })
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{work / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from waka_spark.session import get_spark

    spark = get_spark("kgbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM and every Python worker
    it started have ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while started and time.monotonic() < deadline:
        started = {p for p in started if _alive(p)}
        time.sleep(0.1)
    for p in started:  # still running after a minute: stop it
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    """False once ``pid`` has exited (a zombie counts as exited)."""
    try:
        os.waitpid(pid, os.WNOHANG)  # reaps it if it is our child
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _parent_map() -> dict[int, int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    # field 4 (ppid) follows the parenthesised command name
                    parent[int(entry)] = int(
                        f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    return parent


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid``."""
    parent = _parent_map()
    tree, frontier = set(), [pid]
    while frontier:
        p = frontier.pop()
        for child, ppid in parent.items():
            if ppid == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def tree_memory(pid: int) -> tuple[int, int]:
    """(Python, JVM) resident bytes of ``pid`` and its descendants.

    Python is the benchmark process, the pyspark daemon and its forked
    workers, with each page they share counted once (the sum of their
    proportional set sizes). JVM is the Spark driver's resident size."""
    python = jvm = 0
    for p in descendants(pid) | {pid}:
        try:
            with open(f"/proc/{p}/comm") as f:
                is_jvm = f.read().strip() == "java"
            if is_jvm:
                jvm += _rss_bytes(p)
            else:
                python += _pss_bytes(p)
        except (OSError, ValueError, IndexError):
            continue
    return python, jvm


class PeakRss:
    """Samples the process tree's memory on a daemon thread; keeps the
    peaks of the Python side and of the JVM."""

    def __init__(self, interval: float = 0.25):
        self.peak = 0
        self.jvm_peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            python, jvm = tree_memory(os.getpid())
            self.peak = max(self.peak, python)
            self.jvm_peak = max(self.jvm_peak, jvm)
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def timed(fn, *args, **kwargs):
    """(result, seconds) of one call."""
    t0 = time.perf_counter()
    result = fn(*args, **kwargs)
    return result, time.perf_counter() - t0


def median_of(fn, repeats: int = 3) -> tuple[object, float]:
    """Run ``fn`` ``repeats`` times; (last result, median seconds)."""
    times, result = [], None
    for _ in range(repeats):
        result, seconds = timed(fn)
        times.append(seconds)
    return result, statistics.median(times)
