"""Host readings from /proc: CPU contention stamps, peak RSS, syscalls."""

from __future__ import annotations

import os

# A run whose window saw more steal than this is flagged as contaminated.
# It is kept, never dropped.
STEAL_PCT_MAX = 3.0


def cpu_jiffies() -> list[int] | None:
    """The aggregate ``cpu`` line of /proc/stat, user..steal only.

    Fields 9 and 10 (guest, guest_nice) are already counted inside user
    and nice, so summing them too would double-count guest time."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return None
    if not fields or fields[0] != "cpu":
        return None
    return [int(x) for x in fields[1:9]]


def contention(before: list[int] | None, after: list[int] | None) -> dict:
    """steal% and busy% over a window, plus the 1-minute load at its end."""
    out = {"steal_pct": None, "busy_pct": None, "load1": None}
    try:
        out["load1"] = os.getloadavg()[0]
    except OSError:
        pass
    if before and after:
        d = [a - b for a, b in zip(after, before)]
        total = sum(d)
        if total > 0:
            idle = d[3] + d[4]  # idle + iowait
            out["steal_pct"] = 100.0 * d[7] / total
            out["busy_pct"] = 100.0 * (total - idle) / total
    out["contaminated"] = (out["steal_pct"] or 0.0) > STEAL_PCT_MAX
    return out


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    return _status_kb(pid, "VmHWM") / 1024.0


def syscalls() -> int:
    """syscr + syscw of this process (read and write system calls)."""
    n = 0
    try:
        with open("/proc/self/io") as fh:
            for line in fh:
                if line.startswith(("syscr:", "syscw:")):
                    n += int(line.split()[1])
    except OSError:
        pass
    return n


def tree_bytes_files(path: str) -> tuple[int, int]:
    """Total bytes and parquet-file count under a directory."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            files += name.endswith(".parquet")
    return size, files
