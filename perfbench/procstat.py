"""CPU time and resident memory of the Spark JVM and its children, read
from ``/proc`` (Linux only)."""

from __future__ import annotations

import os
import signal
import time

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[1] is ppid; [11:15] are utime, stime, cutime, cstime
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / TICK


def _tree(root: int) -> dict[int, float]:
    """CPU seconds of ``root`` and each live descendant, by pid."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every live descendant,
    including their children that have already exited and been reaped
    (the Python workers Spark's daemon forks)."""
    return sum(_tree(root).values())


def descendants(root: int) -> list[int]:
    return [p for p in _tree(root) if p != root]


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is alive; kill the ones left at the
    deadline and wait for them too."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_steal(since: tuple[int, int] | None = None):
    """Without ``since``: the host's (total, steal) CPU ticks so far.
    With it: the share of CPU time stolen by other guests since then."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    now = (sum(ticks), ticks[7])
    if since is None:
        return now
    total = now[0] - since[0]
    return (now[1] - since[1]) / total if total else 0.0
