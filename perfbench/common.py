"""Run isolation, process accounting, host counters, spans and the Spark
monitoring-API counters shared by the workloads."""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import statistics
import time
import urllib.request

PACKAGE = "projet_5spar_sparkstreaming_spark"
# Driver heap, pinned (initial = max): with a growable heap, G1's sizing
# decisions made peak RSS vary by 40% and speed by 15% between runs.
HEAP = "3g"
# C1 only. With the default tiered JIT, backfill pass time kept falling for
# 15+ passes (over a minute) as C2 compiled, so no timed window of a
# one-minute run sat on a plateau, and C2's compiler threads took cores
# from the stream's micro-batches. With C1 only, pass time is within about
# 10% of its plateau from the second pass on.
JIT = "-XX:TieredStopAtLevel=1"
GC_LOG = "gc.log"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunDirs:
    """A fresh work tree for one run (checkpoints, warehouse, topics,
    SPARK_LOCAL_DIRS, JVM and Python temp files), removed by ``close``."""

    def __init__(self, root: str, tag: str):
        self.root = os.path.join(root, ".perfbench_work", f"{tag}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        for sub in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.root, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(self.root))


def isolate_env(repo_root: str, dirs: RunDirs, ui: bool) -> dict[str, str]:
    """Environment and session conf so that nothing lands outside ``dirs``
    and Python workers import the package from this checkout. Returns the
    ``extra_conf`` for ``get_spark``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = dirs.path("local")
    os.environ["TMPDIR"] = dirs.path("tmp")
    os.environ["SPARK_GRAFT_UI"] = "true" if ui else "false"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(dirs.root)  # derby.log, stray relative paths
    conf = {
        "spark.sql.warehouse.dir": dirs.path("warehouse"),
        "spark.local.dir": dirs.path("local"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} {JIT} -Djava.io.tmpdir={dirs.path('tmp')} -XX:-UsePerfData"
            f" -Xlog:gc:file={dirs.path(GC_LOG)}:uptime"
        ),
    }
    if ui:
        conf.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "10",
            }
        )
    return conf


def stop_session(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- memory


def jvm_uptime_s(spark) -> float:
    return spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getUptime() / 1000.0


_UNIT_MB = {"K": 1 / 1024.0, "M": 1.0, "G": 1024.0}
_GC_PAUSE = re.compile(r"^\[(\d+\.\d+)s\] GC\(\d+\) Pause .* (\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)")


def heap_after_gc_mb(log_path: str, t0: float, t1: float) -> list[float]:
    """Heap in use after the driver JVM's last GC pause before uptime ``t0``
    and after each pause up to ``t1`` (seconds): what the program keeps,
    however large the heap is set."""
    out = []
    with open(log_path) as f:
        for line in f:
            m = _GC_PAUSE.match(line)
            if not m or float(m.group(1)) > t1:
                continue
            mb = int(m.group(4)) * _UNIT_MB[m.group(5)]
            if float(m.group(1)) < t0:
                out = [mb]
            else:
                out.append(mb)
    return out


# ------------------------------------------------------------ processes


def _children(pid: int) -> list[int]:
    out = []
    with contextlib.suppress(OSError):
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    return out


def _hwm_kb(pid: int) -> int:
    with contextlib.suppress(OSError):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    return 0


def _tree() -> list[int]:
    """This process and all its live descendants: Python driver, driver
    JVM, Python workers."""
    seen, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.append(pid)
            todo += _children(pid)
    return seen


def peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over the process tree."""
    return sum(_hwm_kb(pid) for pid in _tree()) / 1024.0


def cpu_s() -> float:
    """CPU time (user + system) so far of the process tree. Unlike wall
    time, it leaves out the time the processes waited for a CPU."""
    ticks = 0
    for pid in _tree():
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


class HostCounters:
    """Steal and iowait share of all CPU time between start and stop."""

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]

    def __init__(self):
        self._t0 = self._read()

    def shares(self) -> dict[str, float]:
        d = [b - a for a, b in zip(self._t0, self._read())]
        total = max(1, sum(d[:8]))
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return {
            "host.steal_pct": 100.0 * d[7] / total,
            "host.iowait_pct": 100.0 * d[4] / total,
            "host.loadavg": load1,
        }


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end). ``enabled=False`` makes ``span``
    a no-op so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"name": name, "start": start, "end": time.perf_counter()})

    def median(self, name: str) -> float:
        d = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return statistics.median(d) if d else 0.0


def force(df) -> None:
    """Execute a lazy DataFrame completely without writing anything."""
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------ Spark REST API


class SparkCounters:
    """Stage and job totals from the monitoring REST API (UI enabled runs
    only); ``delta`` is the change since construction."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._t0 = self._totals()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def _totals(self) -> dict[str, float]:
        stages = self._get("/stages?status=complete") + self._get("/stages?status=failed")
        jobs = self._get("/jobs")
        return {
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1000.0,
            "spark.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
            "spark.spill_bytes": float(
                sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages)
            ),
            "spark.jobs": float(len(jobs)),
            "spark.tasks": float(sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages)),
            "spark.tasks_failed": float(sum(s["numFailedTasks"] for s in stages)),
        }

    def delta(self) -> dict[str, float]:
        t1 = self._totals()
        return {k: t1[k] - self._t0[k] for k in t1}


def halves_differ(series: list[float], bound: float) -> tuple[bool, float]:
    """Steadiness guard: relative gap between the medians of the first and
    second half of a timed series; flagged when above ``bound``."""
    if len(series) < 2:
        return False, 0.0
    h = len(series) // 2
    a, b = statistics.median(series[:h]), statistics.median(series[h:])
    gap = abs(b - a) / max(a, 1e-9)
    return gap > bound, gap
