"""Process environment of one benchmark run: where the checkout and the
input cache live, the Spark session, host context and memory sampling.

Everything the benchmark writes stays inside the checkout: generated
inputs, Spark scratch space, temp files, event logs and run artifacts all
go under ``.perfbench_cache/`` at the checkout root (git-ignored).
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
PACKAGE = "protovalidate_spark"
DRIVER_MEM = "2g"
USER_HZ = 100


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def cache_dir(*parts: str) -> str:
    path = os.path.join(CACHE, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_process() -> None:
    """Point temp files at the cache and make the package importable in
    this process and in the Python workers Spark forks (workers inherit
    the JVM's environment, which inherits ours), from any working
    directory."""
    tmp = cache_dir("tmp")
    os.environ["TMPDIR"] = tmp
    # overrides spark.local.dir when set, so point it at the cache too
    os.environ["SPARK_LOCAL_DIRS"] = cache_dir("spark-local")
    # every JVM (the launcher too): temp files in the cache, no perf-data
    # files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p and p != ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(app: str, event_log_dir: str | None = None):
    """``local[nproc]`` session with the package's recommended configs
    and pinned driver memory; Spark scratch and the JVM temp dir inside
    the cache. ``event_log_dir`` turns the event log on (traced runs)."""
    from protovalidate_spark.conf import local_session
    extra = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": cache_dir("warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return local_session(cores=nproc(), app=app, driver_mem=DRIVER_MEM,
                         **extra)


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to
    exit (closing its stdin is the gateway's shutdown signal)."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# host context
# ---------------------------------------------------------------------------

def steal_ticks() -> int:
    """Cumulative CPU-steal ticks over all CPUs (/proc/stat field 8);
    -1 when unreadable."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def loadavg() -> list:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return []


class HostContext:
    """CPU steal and load average over a run. A noisy-neighbour run is
    recorded in the artifact, never dropped."""

    def __init__(self):
        self.steal0 = steal_ticks()
        self.load0 = loadavg()

    def summary(self) -> dict:
        s1 = steal_ticks()
        return {
            "nproc": nproc(),
            "steal_cpu_s": ((s1 - self.steal0) / USER_HZ
                            if s1 >= 0 and self.steal0 >= 0 else None),
            "loadavg_start": self.load0,
            "loadavg_end": loadavg(),
        }


# ---------------------------------------------------------------------------
# memory: the Spark JVM and its Python workers are our descendants
# ---------------------------------------------------------------------------

def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    """Peak resident set size of one process (VmHWM), 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root_pid: int) -> list:
    kids = _children()
    todo, out = list(kids.get(root_pid, [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class PeakRss:
    """Peak resident memory of the Spark JVM and its Python workers (all
    descendants of this process). A background thread polls each live
    process's kernel peak (VmHWM) and keeps the largest sum over the
    processes alive together, so short peaks between polls are not
    missed and workers that have exited no longer count."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peaks: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def poll(self):
        live = {pid: _hwm_kb(pid) for pid in descendants(os.getpid())}
        self.peak_kb = max(self.peak_kb, sum(live.values()))
        for pid, kb in live.items():
            self.peaks[pid] = max(kb, self.peaks.get(pid, 0))

    def _loop(self):
        while not self._stop.is_set():
            self.poll()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
