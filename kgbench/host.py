"""Size the benchmark's Spark session from the machine it runs on.

halyard_spark's ``get_spark`` defaults to 32 CPUs and a 64g driver; the
benchmark never relies on them.  CPUs come from the scheduler affinity
mask and the driver heap is a capped share of MemTotal.
"""

from __future__ import annotations

import os
import platform

MEM_SHARE = 0.2  # of MemTotal, for the driver JVM heap
MEM_FLOOR_MB = 1024
MEM_CAP_MB = 3072  # the benchmark inputs fit well inside this


def meminfo_kb(text: str) -> dict[str, int]:
    """Parse /proc/meminfo text into {field: kB}."""
    out = {}
    for line in text.splitlines():
        key, _, rest = line.partition(":")
        parts = rest.split()
        if parts and parts[0].isdigit():
            out[key.strip()] = int(parts[0])
    return out


def driver_memory_mb(meminfo_text: str) -> int:
    total_mb = meminfo_kb(meminfo_text)["MemTotal"] // 1024
    return max(MEM_FLOOR_MB, min(MEM_CAP_MB, int(total_mb * MEM_SHARE)))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def sizing(local_dir: str) -> dict:
    """The session settings passed explicitly to ``get_spark``."""
    with open("/proc/meminfo") as f:
        mem_mb = driver_memory_mb(f.read())
    return {
        "cpus": cpus(),
        "driver_memory": f"{mem_mb}m",
        "local_dir": local_dir,
        # /dev/shm is tmpfs and would count against RAM; this dir is on disk
        "local_dir_fs": _fs_type(local_dir),
        "python": platform.python_version(),
    }


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    path = os.path.realpath(path)
    best, fs = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            fields = line.split()
            if len(fields) >= 3 and path.startswith(fields[1]) and len(fields[1]) > len(best):
                best, fs = fields[1], fields[2]
    return fs


def versions(spark) -> dict:
    return {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


def _children(pid: int) -> list[int]:
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), reaped children included.  Time the
    hypervisor steals from the VM is not in it."""
    pid = pid or os.getpid()
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we walked the tree
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of VmHWM over this process and its descendants (the JVM and
    its Python workers), in MB."""
    pid = pid or os.getpid()
    total_kb = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                total_kb += meminfo_kb(f.read()).get("VmHWM", 0)
        except OSError:
            continue  # exited while we walked the tree
    return total_kb / 1024
