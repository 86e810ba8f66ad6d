"""Host-sized defaults for the local Spark scripts (``bench.py``,
``tools/check_oracle.py``): CPUs from this process's affinity mask, memory
from ``/proc/meminfo``. The scripts' environment variables still override
them."""

from __future__ import annotations

import os


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> int:
    """Total host memory in whole GiB (rounded down)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    raise RuntimeError("no MemTotal line in /proc/meminfo")
