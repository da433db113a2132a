"""Environment and provenance record written with every run, plus the
process-tree memory sampler behind the ``memory.*`` figures."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading

# Defaults of the runtime SQL settings that the benchmark's session or the
# program (``__spark_entry__._tune_session``, ``politeness_schedule``) may
# change. Those changes do not show in the SparkConf, so each is compared
# with its default here.
_CONF_DEFAULTS = {
    "spark.sql.shuffle.partitions": "200",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.join.preferSortMergeJoin": "true",
    "spark.sql.optimizer.windowGroupLimitThreshold": "1000",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "0b",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": None,
    "spark.ui.enabled": "true",
}
# identifying or per-process values that are not tuning
_CONF_SKIP = (
    "spark.app.", "spark.driver.host", "spark.driver.port", "spark.executor.id",
    "spark.submit.", "spark.rdd.compress", "spark.serializer.objectStreamReset",
    "spark.sql.warehouse.dir", "spark.master", "spark.executor.extraJavaOptions",
    "spark.repl.local.jars", "spark.files", "spark.jars", "spark.sql.artifact.",
)


def cpu_stat() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return (after[1] - before[1]) / dt if dt else 0.0


def java_version() -> str:
    try:
        r = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30)
        return (r.stderr or r.stdout).splitlines()[0]
    except (OSError, subprocess.TimeoutExpired, IndexError):
        return "unknown"


def conf_overrides(spark) -> dict[str, str]:
    """Every SQL and Spark setting whose value differs from its default."""
    out = {}
    for k, v in spark.sparkContext.getConf().getAll():
        if not k.startswith(_CONF_SKIP):
            out[k] = v
    for k, default in _CONF_DEFAULTS.items():
        v = spark.conf.get(k, None)
        if v is not None and v != default:
            out[k] = v
    return dict(sorted(out.items()))


def record(spark, cores: int) -> dict:
    import pyspark

    from mycelium_spark.functions import clexer

    return {
        "nproc": os.cpu_count(),
        "local_n": cores,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "java": java_version(),
        "platform": platform.platform(),
        "lexer_kernel": "c" if clexer.get() is not None else "python",
        "spark_conf_overrides": conf_overrides(spark),
    }


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes that map it. Python workers are forked from one daemon
    and share most of its pages, so summing their RSS would count those
    pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                kids.extend(int(x) for x in f.read().split())
    except (OSError, ValueError):
        pass
    return kids


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root``."""
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and every process below it,
    each with its reaped children (fields 14-17 of /proc/<pid>/stat)."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            pass
    return ticks / _CLK_TCK


def _start_time(pid: int) -> str | None:
    """Field 22 of /proc/<pid>/stat, which tells a pid from its reuse."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[19]
    except (OSError, IndexError):
        return None


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every process in ``pids`` has exited; kill the ones still
    running at the deadline."""
    import signal
    import time

    procs = [(p, t) for p in pids if (t := _start_time(p)) is not None]
    deadline = time.monotonic() + timeout_s
    while procs and time.monotonic() < deadline:
        procs = [(p, t) for p, t in procs if _start_time(p) == t]
        time.sleep(0.1)
    for p, t in procs:
        if _start_time(p) == t:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_pss_mb(root: int) -> dict[str, float]:
    """Proportional set size of ``root`` and all its descendants in MB:
    in total, of the JVMs, and of the Python processes."""
    out = {"total": 0.0, "jvm": 0.0, "python": 0.0}
    for pid in [root, *descendants(root)]:
        mb = _pss_kb(pid) / 1024.0
        out["total"] += mb
        out["jvm" if _comm(pid) == "java" else "python"] += mb
    return out


class PeakPss:
    """Samples the proportional set size of this process and every process
    it started (the Spark JVM and its Python workers) until stopped, and
    keeps the peak of each part."""

    INTERVAL_S = 0.5

    def __init__(self):
        self._peaks = {"total": 0.0, "jvm": 0.0, "python": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def peaks(self) -> dict[str, float]:
        """The peaks so far, with a sample taken now."""
        now = tree_pss_mb(os.getpid())
        for k, v in now.items():
            self._peaks[k] = max(self._peaks[k], v)
        return dict(self._peaks)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peaks()
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
