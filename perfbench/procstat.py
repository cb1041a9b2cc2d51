"""Process-tree and host readings from /proc (Linux only).

CPU seconds count the benchmark process and every descendant: the
Spark JVM and its Python workers. Children that already exited and
were reaped are included through their parent's cutime/cstime.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    root = os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree so far."""
    ticks = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # utime stime cutime cstime = fields 14-17 (1-based)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak RSS."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two readings the hypervisor stole."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d)
    return d[7] / total if total > 0 else 0.0


def capacity_probe_s() -> float:
    """Wall seconds of a fixed single-core job (sorting 1M int64 five
    times): it grows when the host is contended, so a slow run shows
    whether the machine or the program was slow."""
    import numpy as np

    a = np.random.default_rng(0).integers(0, 1 << 40, 1_000_000)
    t0 = time.perf_counter()
    for _ in range(5):
        np.sort(a)
    return time.perf_counter() - t0


def wait_children(timeout: float = 30.0) -> list[int]:
    """Wait until this process has no descendants left; returns the pids
    still alive after ``timeout`` (after killing them)."""
    deadline = time.time() + timeout
    while True:
        left = [p for p in tree_pids() if p != os.getpid()]
        if not left:
            return []
        if time.time() >= deadline:
            import signal

            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            return left
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
