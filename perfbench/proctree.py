"""Process-tree resource readings and the environment record.

The benchmark process, the Spark JVM it launches and the Python workers the
JVM forks form one tree; CPU and memory are summed over it from ``/proc``.
"""

from __future__ import annotations

import os
import platform
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read().decode(errors="replace")
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of every live process in the tree, plus what each has
    collected from children it already reaped."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read().decode(errors="replace")
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_pss_mb() -> float:
    """Resident memory of the tree now, each shared page split between the
    processes that map it (PSS), so the copy-on-write pages of forked Python
    workers count once."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class PeakMemory:
    """Samples ``tree_pss_mb`` on a background thread; ``stop()`` returns
    the largest sample."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._sample, args=(interval_s,), daemon=True)

    def _sample(self, interval_s: float) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_mb())
            if self._stop.wait(interval_s):
                return

    def start(self) -> "PeakMemory":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return max(self.peak, tree_pss_mb())


def descendants() -> list[int]:
    return [p for p in tree_pids() if p != os.getpid()]


def host_counters() -> dict[str, float]:
    """Host-wide counters that explain a slow run: CPU time the hypervisor
    gave to others (steal), and allocations that stalled on memory reclaim.
    Read at the start and the end of a run; the record shows the change."""
    out = {"steal_s": 0.0, "reclaim_stalls": 0}
    try:
        with open("/proc/stat", encoding="utf-8") as fh:
            cpu = fh.readline().split()
        out["steal_s"] = int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0
        with open("/proc/vmstat", encoding="utf-8") as fh:
            out["reclaim_stalls"] = sum(
                int(line.split()[1]) for line in fh
                if line.startswith("allocstall_"))
    except OSError:
        pass
    return out


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (longest mount-point
    prefix in /proc/self/mounts)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    try:
        with open("/proc/self/mounts", encoding="utf-8") as fh:
            for line in fh:
                parts = line.split()
                mnt = parts[1].replace("\\040", " ")
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                        and len(mnt) >= len(best):
                    best, fstype = mnt, parts[2]
    except OSError:
        pass
    return fstype


def environment(spark, seed: int) -> dict:
    """What a reader needs to compare two results: cores and parallelism,
    driver heap next to host RAM, where shuffle/spill files go, versions,
    seed and load."""
    import pyspark

    from databricks_import_pyspark_scripts_spark.session import _DEFAULT_CONF

    conf = spark.sparkContext.getConf()
    local_dir = conf.get("spark.local.dir", None) or "/tmp"
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "spark_driver_memory": conf.get("spark.driver.memory", None),
        "program_default_driver_memory":
            _DEFAULT_CONF.get("spark.driver.memory"),
        "host_ram_gb": round(os.sysconf("SC_PAGE_SIZE")
                             * os.sysconf("SC_PHYS_PAGES") / 2**30, 2),
        "spark_local_dir": local_dir,
        "spark_local_dir_fs": _fs_type(local_dir.split(",")[0]),
        "pyspark_version": pyspark.__version__,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "seed": seed,
        "load_avg": [round(x, 2) for x in os.getloadavg()],
    }
