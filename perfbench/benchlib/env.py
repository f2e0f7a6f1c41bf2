"""Run environment: the pinned Spark settings, one scratch root per run,
host noise (CPU steal and load average), peak memory, and a count of the
temp dirs a workload leaves behind."""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import time

SCRATCH_DIRNAME = ".perfbench_tmp"


def pin_environment(repo_root: str, scratch: str) -> None:
    """Settings every run uses, applied before the JVM starts.

    * ``SPARK_GRAFT_CPUS`` = the cores this process may use, because
      ``session.get_spark`` otherwise defaults to ``local[32]``;
    * ``SPARK_GRAFT_DRIVER_MEM`` = 4g, so the driver heap cannot grow
      past what a shared box should give one benchmark (the package
      default is 16g);
    * Spark's local dirs, the JVM's and Python's temp dirs under the
      run's scratch root, so nothing is written outside the checkout;
    * ``PYTHONPATH`` so Python workers can import the package from any
      working directory.
    """
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')} "
        "pyspark-shell"
    )
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + prev if prev else "")
    import tempfile

    tempfile.tempdir = tmp


def cpu_times() -> tuple[float, float]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [float(x) for x in parts[:8]]
    return sum(vals), vals[7]


class HostNoise:
    """CPU steal % and 1-minute load average over a window."""

    def __init__(self):
        self.t0 = cpu_times()
        self.load0 = os.getloadavg()[0]

    def read(self) -> dict:
        t1 = cpu_times()
        total = t1[0] - self.t0[0]
        steal = t1[1] - self.t0[1]
        return {
            "steal_pct": round(100.0 * steal / total, 3) if total else 0.0,
            "loadavg_start": round(self.load0, 2),
            "loadavg_end": round(os.getloadavg()[0], 2),
        }


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def process_tree(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def peak_rss_mb() -> float:
    """Peak resident memory of this Python driver, the JVM it launched
    and the JVM's Python workers: the sum of each live process's
    high-water mark (VmHWM), an upper bound of their joint peak."""
    me = os.getpid()
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kb += sum(_status_kb(p, "VmHWM") for p in process_tree(me) if p != me)
    return kb / 1024.0


class TempWatch:
    """Counts temp dirs created under ``tmp`` (where TMPDIR points)
    that are still there when the workload ends, e.g. ``mlake_*``."""

    def __init__(self, tmp: str):
        self.tmp = tmp
        self.before = set(os.listdir(tmp))

    def leaked(self) -> list[str]:
        now = set(os.listdir(self.tmp)) - self.before
        return sorted(n for n in now if os.path.isdir(os.path.join(self.tmp, n)))


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove_tree(path: str) -> None:
    for _ in range(3):
        shutil.rmtree(path, ignore_errors=True)
        if not os.path.exists(path):
            return
        time.sleep(0.2)
