"""Host canaries and process memory, read from ``/proc``."""

from __future__ import annotations

import hashlib
import os
import time
from concurrent.futures import ThreadPoolExecutor


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_canary(trials: int = 3, mib: int = 64) -> float:
    """Best of ``trials`` single-threaded sha256 passes over ``mib`` MiB:
    moves only when the host does (steal, throttling, neighbours)."""
    block = bytes(1 << 20)
    best = float("inf")
    for _ in range(trials):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(mib):
            h.update(block)
        h.hexdigest()
        best = min(best, time.perf_counter() - t0)
    return best


def membw_canary(trials: int = 3, mib: int = 256, passes: int = 8) -> float:
    """Best of ``trials``: one thread per available core sums its slice of
    a shared ``mib`` MiB array ``passes`` times (numpy releases the GIL),
    so the task is bound by memory bandwidth across all cores."""
    import numpy as np

    threads = nproc()
    arr = np.ones((mib << 20) // 8)
    chunk = len(arr) // threads

    def work(i: int) -> float:
        part = arr[i * chunk:(i + 1) * chunk]
        return sum(float(part.sum()) for _ in range(passes))

    best = float("inf")
    with ThreadPoolExecutor(threads) as ex:
        for _ in range(trials):
            t0 = time.perf_counter()
            list(ex.map(work, range(threads)))
            best = min(best, time.perf_counter() - t0)
    return best


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a live process, in MiB."""
    return _status_kb(pid, "VmHWM") / 1024


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def dir_kb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total / 1024
