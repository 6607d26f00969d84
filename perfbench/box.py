"""What the box looked like during a run: cpus, memory, load, peak RSS."""

from __future__ import annotations

import os
import time


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_fracs(since: list[int] | None = None, interval: float = 0.25) -> tuple[float, float]:
    """System-wide (busy, steal) shares of all cpus since the ``/proc/stat``
    ticks ``since``, or over the next ``interval`` seconds.  Steal is time
    the hypervisor gave the vcpus to other guests."""
    a = since
    if a is None:
        a = cpu_ticks()
        time.sleep(interval)
    d = [y - x for x, y in zip(a, cpu_ticks())]
    total = sum(d) or 1
    idle = d[3] + d[4]  # idle + iowait
    steal = d[7] if len(d) > 7 else 0
    return 1.0 - idle / total, steal / total


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def snapshot() -> dict:
    busy, steal = cpu_fracs()
    return {
        "cpus": cpus(),
        "mem_total_mb": round(_meminfo_mb("MemTotal")),
        "mem_available_mb": round(_meminfo_mb("MemAvailable")),
        "loadavg": os.getloadavg(),
        "busy_frac": round(busy, 3),
        "steal_frac": round(steal, 3),
    }


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
