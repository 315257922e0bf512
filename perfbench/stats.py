"""Small measurement helpers: percentiles, peak memory, host annotations."""

from __future__ import annotations

import math
import os

MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-th percentile, refused unless at least
    ``MIN_BEYOND`` samples lie beyond it: a tail figure resting on fewer
    samples is one slow outlier, not a percentile."""
    vals = sorted(values)
    n = len(vals)
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    rank = math.ceil(q / 100 * n)
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {n} samples leaves {n - rank} beyond it; need {MIN_BEYOND}"
        )
    return vals[rank - 1]


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident set (``VmHWM``) in MB of this Python process and of
    the driver JVM it launched (``psutil`` is not installed)."""
    me = os.getpid()
    jvms = [p for p in _descendants(me) if _comm(p) == "java"]
    return _status_kb(me, "VmHWM") / 1024.0, sum(_status_kb(p, "VmHWM") for p in jvms) / 1024.0


def load_1m() -> float:
    return os.getloadavg()[0]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs, since
    boot): its growth over a run says how much of the run the shared
    host took away."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0
