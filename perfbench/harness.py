"""Session, environment and measurement helpers shared by the workloads.

Everything here works from outside the library: it starts the session
through ``ecc_spark.session.get_spark``, samples memory from ``/proc``
and times calls into public functions. Nothing touches the library's
own code paths.
"""

from __future__ import annotations

import os
import platform
import sys
import threading
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of the box, at most 2 GiB: the library default (48g) is
    sized for a 32-CPU host."""
    return min(2048, mem_total_mb() // 4)


def prepare_env(work: str) -> None:
    """Point every process the session starts at this checkout: library
    and tests importable by Python workers, temporary and spill files
    under ``work``. Must run before ``ecc_spark`` is imported, because
    ``ecc_spark.session`` reads its defaults at import time."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_memory_mb()}m"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str, app: str, event_log_dir: str | None = None):
    """→ (spark, seconds). The event log is the only configuration that
    differs between a traced and an untraced session."""
    from ecc_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size, and so
        # peak_rss_mb, then does not follow how far GC happened to grow
        # and touch the heap (it moved the total by 12% between runs)
        "spark.driver.extraJavaOptions": (
            f"-Xms{driver_memory_mb()}m -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app, cpus=nproc(), extra_conf=conf)
    spark.range(1).collect()  # the first job starts the scheduler
    return spark, time.perf_counter() - t0


def environment(spark) -> dict:
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_memory_mb": driver_memory_mb(),
        "cpus": nproc(),
        "spark": spark.version,
        "python": platform.python_version(),
        "loadavg": list(os.getloadavg()),
    }


def canary(spark) -> float:
    """``bench.canary``: a fixed JVM-only job whose time moves only with
    what else the host is doing."""
    from bench import canary as bench_canary

    return bench_canary(spark)


class TreeRSS:
    """Peak resident memory summed over this process and every process
    it started (JVM, Python workers), sampled from /proc. Each process
    counts its proportional set size, so pages the forked Python workers
    share with their daemon are counted once."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}  # at the sample of the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                    stat = fh.read()
            except OSError:
                continue  # exited between listdir and open
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> int:
        parts: dict[str, int] = {}
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/comm", encoding="ascii") as fh:
                    kind = "jvm" if fh.read().strip() == "java" else "python"
                if pid == os.getpid():
                    kind = "driver"
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                    pss = next(int(line.split()[1]) * 1024 for line in fh
                               if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue  # exited, or a kernel thread without a mapping
            parts[kind] = parts.get(kind, 0) + pss
        total = sum(parts.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_parts = total, parts
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "TreeRSS":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def timed(fn, *args, **kwargs):
    """→ (result, seconds)."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def repetitions(seconds: float, rep_s: float) -> int:
    """How many repetitions fill ``seconds`` at a workload's nominal
    repetition time: a fixed count, so no run's median mixes in an extra,
    warmer repetition because the host happened to be fast."""
    return max(1, round(seconds / rep_s))


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, in
    seconds summed over all CPUs (``/proc/stat``): a noise record."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def per_row_us(fn, rows) -> float:
    """Median over five passes of a single-threaded per-row kernel time."""
    passes = []
    for _ in range(5):
        t0 = time.perf_counter()
        for r in rows:
            fn(r)
        passes.append((time.perf_counter() - t0) / len(rows) * 1e6)
    return median(passes)


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20
