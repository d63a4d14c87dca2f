"""CPU and resident-memory accounting for a process tree, and the
host's CPU steal, from /proc.

``tree_cpu_s(root)`` is the CPU the tree rooted at ``root`` has used so
far: for every live member, its own user+system time plus the time of
the children it has already reaped (``cutime``/``cstime`` in
``/proc/<pid>/stat``).  A Python worker that exits between two samples
keeps its CPU in the count through its parent's reaped-children fields,
so a per-pass delta never goes negative and never drops a worker.

One scan reads the tree twice: first to find the members, then again
top-down, parents before children.  Read in that order a child reaped
mid-scan can only be missed (never counted twice); a member that is gone
or whose pid now names another process (a different start time) makes
the scan start over, so a finished scan is exact for one instant.

On a shared virtual machine the hypervisor withholds CPU from the guest
while it has work (``steal`` in ``/proc/stat``); on a 4-vCPU guest this
has measured 5-50% of the CPU a run asked for, swinging from minute to
minute, and moved raw wall times 2.3x where CPU seconds moved 1.3x.
``NetClock`` scales a wall time by the share of asked-for CPU the
guest was given, i.e. to the time the same work takes on CPUs nobody
else uses.  Time spent waiting rather than computing is scaled too, so
a wait shows at (1 - steal share) of its length.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, start_ticks, own + reaped-children CPU ticks) or None when
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces or parentheses: split after the last ")"
    fields = raw[raw.rfind(")") + 2 :].split()
    try:
        return (
            int(fields[1]),
            int(fields[19]),
            int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14]),
        )
    except (IndexError, ValueError):
        return None


def _members(root: int) -> list[tuple[int, int]]:
    """(pid, start_ticks) of ``root`` and its descendants, parents first."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = (st[0], st[1])
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    if root not in stats:
        return []
    order, i = [root], 0
    while i < len(order):
        order.extend(kids.get(order[i], []))
        i += 1
    return [(p, stats[p][1]) for p in order]


def tree_cpu_s(root: int, retries: int = 20) -> float:
    """CPU seconds the tree at ``root`` has used so far."""
    for _ in range(retries):
        cpu = 0
        for pid, start in _members(root):
            st = _read_stat(pid)
            if st is None or st[1] != start:
                break  # exited or pid reused mid-scan: rescan
            cpu += st[2]
        else:
            return cpu / _TICK
    raise RuntimeError(f"process tree of {root} changed on every one of {retries} scans")


def host_cpu_ticks() -> tuple[int, int]:
    """(given, stolen) ticks summed over the host's CPUs since boot:
    given = user + nice + system + irq + softirq, stolen = steal.
    (0, 0) where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


class NetClock:
    """A wall clock that also reads the steal since it started."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.ticks0 = host_cpu_ticks()

    def read(self) -> tuple[float, float]:
        """(wall seconds, wall seconds net of steal) since the start."""
        wall = time.perf_counter() - self.t0
        given, stolen = (b - a for a, b in zip(self.ticks0, host_cpu_ticks()))
        return wall, wall * given / (given + stolen) if given + stolen > 0 else wall


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    """Resident memory of the tree with shared pages split among their
    sharers (PSS), so forked Python workers do not count their parent's
    pages again."""
    return sum(_pss_bytes(pid) for pid, _ in _members(root))


class MemorySampler:
    """Background thread that records the peak resident memory (summed
    PSS) of a tree."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def _loop(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval_s):
                return

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(self.root))

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

