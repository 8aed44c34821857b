"""Pure helpers behind the benchmark's numbers: percentiles, interval
unions, span self time, on-disk bytes, host steal and memory high-water
marks. Nothing here imports Spark, so the helpers are unit-tested alone
(``perfbench/tests``)."""

from __future__ import annotations

import math
import os
import stat
import statistics
from collections.abc import Iterable

MIN_BEYOND = 10


def tail_percentile(
    samples: Iterable[float], q: float = 95.0, min_beyond: int = MIN_BEYOND
) -> tuple[float, float]:
    """``(value, percentile)`` of the q-th percentile, lowered to the
    highest percentile that still has ``min_beyond`` samples above it, and
    never below the median. A run with 200 or more samples reports the
    true p95; a shorter run reports the highest tail it can support."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    idx = min(math.ceil(q / 100.0 * n) - 1, n - 1 - min_beyond)
    idx = max(idx, n // 2)
    return s[idx], 100.0 * (idx + 1) / n


def median(samples: Iterable[float]) -> float:
    return statistics.median(list(samples))


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def driver_gap(op_start: float, op_end: float, jobs: Iterable[tuple[float, float]]) -> float:
    """Op wall time minus the union of its Spark job intervals: the time
    the driver spent between jobs."""
    return (op_end - op_start) - union_length(clip(jobs, op_start, op_end))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of it that its
    child spans cover (overlapping children count once). Spans are dicts
    with ``id``, ``parent``, ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans
    }


def stored_bytes(root: str) -> int:
    """Bytes of the regular files under ``root``; links are not followed
    and a file reachable twice through hard links counts once."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            key = (st.st_dev, st.st_ino)
            if key in seen or not stat.S_ISREG(st.st_mode):
                continue
            seen.add(key)
            total += st.st_size
    return total


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int, children: Iterable[int]) -> float:
    """VmHWM (peak resident set) of ``pid`` plus that of each child."""
    kb = _status_kb(pid, "VmHWM") + sum(_status_kb(c, "VmHWM") for c in children)
    return kb / 1024.0
