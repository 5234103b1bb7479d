"""Host stamping and the /proc readings the benchmark takes.

psutil is not installed, so process-tree CPU time and peak resident set
size come straight from ``/proc``. The Spark driver JVM is the process
``pyspark`` launched; the Python workers are its descendants.
"""

from __future__ import annotations

import os
import platform
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(total_mb: int) -> int:
    """Driver heap sized to the host: a quarter of RAM, at most 3 GiB.
    The package default (16g) exceeds small hosts' RAM."""
    return min(3072, total_mb // 4)


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm may contain spaces; fields after it start at the last ')'
    return raw[raw.rindex(")") + 2:].split()


def seconds_since_start(pid: int | None = None) -> float:
    """Elapsed time since ``pid`` (default: this process) was started,
    on the boot-time clock /proc/<pid>/stat counts start time in."""
    start_ticks = int(_stat_fields(pid or os.getpid())[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _CLK_TCK


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU of ``pids`` and of their reaped children."""
    total = 0
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def vm_hwm_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set size (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total_kb / 1024


def jvm_pid(spark) -> int:
    """PID of the driver JVM behind ``spark`` (the launcher execs java)."""
    pid = spark.sparkContext._gateway.proc.pid
    for p in descendants(pid):
        with open(f"/proc/{p}/comm") as f:
            if f.read().strip() == "java":
                return p
    raise RuntimeError(f"no java process under launcher pid {pid}")


def stamp(cores: int, driver_mem_mb: int) -> dict:
    """What a reader needs to judge where the numbers came from."""
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "cores": cores,
        "driver_memory_mb": driver_mem_mb,
        "mem_total_mb": mem_total_mb(),
        "loadavg": [float(x) for x in open("/proc/loadavg").read().split()[:3]],
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                            if k.startswith("SPARK_GRAFT_")},
    }
