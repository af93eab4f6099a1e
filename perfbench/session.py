"""Process environment, Spark session set-up and shutdown, host probes.

Everything the benchmark starts writes under the work directory of its
checkout: the JVM's and Python's temp dirs, Spark's local dirs and
warehouse, and (traced runs only) the Spark event log.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from pathlib import Path

from .inputs import ROOT


def configure_env(work: Path, event_log: Path | None) -> None:
    """Set before the JVM starts: it inherits this environment, and so do
    the Python workers it forks.  The workers run outside the repository
    root, so the root goes on their PYTHONPATH."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p)
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    # the JVM writes its perf-counter file to /tmp/hsperfdata_<user>
    # whatever its tmpdir: switch the file off
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the event log is switched on through spark-submit config, never
    # through a source change; untraced runs keep the default (off)
    args = []
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        args = ["--conf spark.eventLog.enabled=true",
                "--conf spark.eventLog.compress=false",
                f"--conf spark.eventLog.dir=file://{event_log}"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join([*args, "pyspark-shell"])
    import tempfile
    tempfile.tempdir = str(tmp)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def build_session(times: int):
    """Build the session ``times`` times through ``pipeline.get_spark``
    (each a fresh SparkContext, so ``_warm_session`` runs each time; the
    first also launches the JVM) and keep the last.  Returns the session
    and the set-up times."""
    from mineru_spark.pipeline import get_spark

    n = nproc()
    spark, took = None, []
    for _ in range(times):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app="perfbench", master=f"local[{n}]",
                          shuffle_partitions=n)
        took.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
    return spark, took


def become_subreaper() -> None:
    """Have every orphaned descendant reparented to this process, not to
    init, so that ``shutdown`` can wait for it: the Python workers outlive
    the JVM that forked them by a moment."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def shutdown(grace_s: float = 10.0) -> None:
    """Stop the SparkContext and the JVM, then every process still below
    this one, and wait for each to end.  ``SparkContext.stop`` keeps the
    JVM; it would exit only after this process had."""
    import signal
    import subprocess

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # a dead JVM: it is killed below all the same
            pass
    proc = getattr(SparkContext._gateway, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the pyspark gateway exits on stdin EOF
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    while live := _descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in live:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)


def check_workers(spark) -> None:
    """Stop at once when a Python worker cannot import the package, or
    imports another copy of it than this checkout's."""
    def origin(_):  # nested, so it ships by value and imports only this
        import mineru_spark
        yield mineru_spark.__file__

    n = spark.sparkContext.defaultParallelism
    try:
        origins = set(spark.sparkContext.parallelize(range(n), n)
                      .mapPartitions(origin).collect())
    except Exception as e:  # the worker's ImportError arrives wrapped
        sys.exit(f"perfbench: Python workers cannot import mineru_spark "
                 f"(PYTHONPATH={os.environ.get('PYTHONPATH')}): "
                 f"{str(e).strip().splitlines()[-1]}")
    want = str(ROOT / "mineru_spark")
    stray = {o for o in origins if not o.startswith(want)}
    if stray:
        sys.exit(f"perfbench: Python workers import mineru_spark from "
                 f"{sorted(stray)}, not {want}")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests since boot: on a
    shared virtual machine, a rep that grows it ran on a loaded host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def _descendants(root: int) -> dict[int, str]:
    """pid -> command name of every process below ``root``."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        children.setdefault(int(rest.split()[1]), []).append(
            (int(d), head.split("(", 1)[1]))
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid, comm = todo.pop()
        out[pid] = comm
        todo.extend(children.get(pid, []))
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes() -> int:
    """Resident memory of every process this one started: the driver JVM
    (RSS) and the Python workers it forks (PSS: forked workers share
    pages with their daemon, so their plain RSS would count those pages
    once per worker)."""
    total = 0
    for pid, comm in _descendants(os.getpid()).items():
        try:
            if comm == "java":
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            else:
                total += _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s() -> float:
    """User+system CPU seconds of the live processes this one started."""
    total = 0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return total / _TICK


class Clock:
    """Times one timed region and samples the process tree's RSS while it
    runs: ``region_peak_rss`` is the highest sample of the last region."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.region_peak_rss = 0
        self.elapsed = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _peak(self) -> None:
        self.region_peak_rss = max(self.region_peak_rss, tree_rss_bytes())

    def _sample(self) -> None:
        while not self._stop.wait(self.period_s):
            self._peak()

    def __enter__(self):
        self._stop.clear()
        self.region_peak_rss = 0
        self._peak()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self._t0
        self._stop.set()
        self._thread.join()
        self._peak()
        return False
