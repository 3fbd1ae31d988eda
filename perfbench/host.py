"""Host-side readings taken from outside the Spark program.

- ``host_probe``: the md5 / memcpy / syscall readings of ``bench.py``'s
  ``host_probe`` in a shorter form (~0.4 s). Taken before and after every
  workload run, so a co-tenant burst on a shared host shows in the artifact.
- ``cpu_jiffies`` / ``steal_frac``: the share of CPU time stolen by the
  hypervisor over the run.
- ``RssSampler``: peak resident memory of a process tree (the driver JVM plus
  its Python workers), sampled from ``/proc``.
- ``kill_tree``: stop a process and every descendant.
"""

from __future__ import annotations

import hashlib
import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_probe() -> dict:
    """Three short readings; each is a rate, higher is healthier.

    cpu_md5_mbps: cache-resident single-core md5 (runnable-core contention);
    dram_gbps: 32 MB memcpy, read + write counted (memory-bus pressure);
    syscall_kps: 4 KB ``/dev/zero`` reads per ms (kernel / hypervisor time).
    """
    import numpy as np

    buf = b"x" * (1 << 16)
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < 0.15:
        hashlib.md5(buf).digest()
        n += 1
    cpu = n * len(buf) / (time.perf_counter() - t0) / 1e6
    a = np.ones(32 * 1024 * 1024 // 8)
    b = np.empty_like(a)
    np.copyto(b, a)  # fault the pages in before timing
    t0 = time.perf_counter()
    it = 0
    while time.perf_counter() - t0 < 0.15:
        np.copyto(b, a)
        it += 1
    dram = it * a.nbytes * 2 / (time.perf_counter() - t0) / 1e9
    fd = os.open("/dev/zero", os.O_RDONLY)
    try:
        t0 = time.perf_counter()
        calls = 0
        while time.perf_counter() - t0 < 0.1:
            for _ in range(1000):
                os.read(fd, 4096)
            calls += 1000
        sys_rate = calls / (time.perf_counter() - t0) / 1e3
    finally:
        os.close(fd)
    return {
        "cpu_md5_mbps": round(cpu, 1),
        "dram_gbps": round(dram, 2),
        "syscall_kps": round(sys_rate, 1),
    }


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine from ``/proc/stat``: on a
    virtual machine, steal is time the hypervisor gave a vCPU to another
    guest while it had work."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def descendants(pid: int) -> list[int]:
    """``pid`` and every live descendant, from the ppid field of /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def rss_bytes(pids: list[int]) -> list[int]:
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                out.append(int(fh.read().split()[1]) * _PAGE)
        except OSError:
            out.append(0)  # exited between the listing and the read
    return out


def kill_tree(pid: int) -> None:
    for p in reversed(descendants(pid)):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class RssSampler:
    """Samples the RSS of ``pid``'s process tree while ``active`` is set and
    keeps the peak of the tree, and of ``pid`` alone. Runs in a daemon thread
    until ``close``. The tree is listed once a second and its RSS read every
    ``interval_s``: a pass can grow the heap by hundreds of MB within a
    second, and a dense sample keeps the part of a peak it misses small."""

    LIST_EVERY_S = 1.0

    def __init__(self, pid: int, interval_s: float = 0.05):
        self.pid = pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_root_bytes = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pids, listed = [], -self.LIST_EVERY_S
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                if time.monotonic() - listed >= self.LIST_EVERY_S:
                    pids, listed = descendants(self.pid), time.monotonic()
                rss = rss_bytes(pids)  # pid comes first
                self.peak_bytes = max(self.peak_bytes, sum(rss))
                self.peak_root_bytes = max(self.peak_root_bytes, rss[0])

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
