"""Statistics, digests and host stamps shared by the benchmark.

Nothing here touches Spark, so the benchmark's tests run it without a
session.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import threading
import time

_MASK = (1 << 64) - 1


def _h64(data: bytes) -> int:
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(),
                          "little")


def digest_lines(lines) -> tuple[int, int]:
    """(count, order-insensitive digest) of a multiset of strings: the sum
    of per-line 64-bit hashes, so a duplicate line moves the digest and a
    reordering does not."""
    n = acc = 0
    for ln in lines:
        acc = (acc + _h64(ln.encode())) & _MASK
        n += 1
    return n, acc


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return f"bool:{v}"
    return repr(v)


def digest_rows(columns, rows) -> tuple[int, int]:
    """(count, digest) of a result set, independent of row and column
    order: columns are sorted by name and values normalised the way the
    repository's oracle comparison does (exact float ``repr``)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    head = "\x1f".join(columns[i] for i in order)
    return digest_lines(
        head + "\x1e" + "\x1f".join(_norm(r[i]) for i in order)
        for r in rows)


def median(xs) -> float:
    return float(statistics.median(xs))


def iqr_ratio(xs) -> float:
    """Inter-quartile distance over the median (0 for fewer than 2)."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def half_ratio(xs) -> float:
    """Median of the second half of the ops over the first half; far
    from 1 means the run was still warming up (or the host changed)."""
    if len(xs) < 2:
        return 1.0
    h = len(xs) // 2
    return statistics.median(xs[h:]) / statistics.median(xs[:h])


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostStamps:
    """Load and steal around a run: context for a reader, never a gate."""

    def __init__(self):
        self.load_start = os.getloadavg()
        self.cpu_start = _cpu_times()

    def finish(self) -> dict:
        end = _cpu_times()
        delta = [b - a for a, b in zip(self.cpu_start, end)]
        total = sum(delta) or 1
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_share": round(steal / total, 4),
        }


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _statm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return f.read()
    except OSError:
        return None


def tree_rss(root: int) -> dict[int, int]:
    """Resident bytes of ``root`` and of every descendant, by pid. A child
    caught between ``vfork`` and ``exec`` shares its parent's memory and
    reads the very same ``statm``; it is skipped, not counted twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    out, todo = {}, [(root, None)]
    while todo:
        pid, parent_statm = todo.pop()
        statm = _statm(pid)
        if statm is None or statm == parent_statm:
            continue
        out[pid] = int(statm.split()[1]) * page
        todo.extend((c, statm) for c in _children(pid))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, with reaped children) used so far by
    ``root`` and every live descendant. Time the hypervisor stole from
    the guest is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
        todo.extend(_children(pid))
    return total / tick


class PeakRss:
    """Samples the process tree's RSS on a thread until ``stop()``.

    ``cpu_s`` is the CPU time the sampling thread has used so far. It is
    part of this process's CPU time, so op CPU figures subtract it."""

    INTERVAL_S = 0.05

    def __init__(self):
        self.peak = 0
        self.peak_parts: list[int] = []
        self.cpu_s = 0.0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pid = os.getpid()
        while not self._halt.is_set():
            by_pid = tree_rss(pid)
            total = sum(by_pid.values())
            if total > self.peak:
                self.peak = total
                self.peak_parts = sorted(by_pid.values(), reverse=True)
            self.cpu_s = time.thread_time()
            self._halt.wait(self.INTERVAL_S)

    def stop(self) -> int:
        self._halt.set()
        self._thread.join(timeout=5)
        return self.peak
