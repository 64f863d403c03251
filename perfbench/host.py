"""Host facts: core count, driver heap sized from /proc/meminfo, steal,
and peak resident memory. Steal is reported only, never used to adjust
a number."""

from __future__ import annotations

import platform


def meminfo_kb(key: str = "MemTotal") -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_heap_mb() -> int:
    """An eighth of physical memory, clamped to [1 GiB, 4 GiB] and rounded
    down to 256 MiB, so the fixed, pre-touched heap never crowds out the
    host."""
    mb = meminfo_kb("MemTotal") // 1024 // 8
    return max(1024, min(4096, mb // 256 * 256))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of a process, 0 when it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def facts(cores: int, heap_mb: int) -> dict:
    import pyspark

    return {
        "nproc": cores,
        "heap_mb": heap_mb,
        "mem_total_mb": meminfo_kb("MemTotal") // 1024,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }
