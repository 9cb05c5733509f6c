"""CPU-seconds of this process and every process below it.

A Spark run on ``local[N]`` spreads its work over three kinds of process:
the Python driver, the JVM it launches, and the Python workers the JVM
forks.  Wall time on a shared host swings with contention; the CPU the
whole tree burns is much steadier, so every timed phase reports both.

Read from ``/proc``: for each live descendant, user + system time plus
the user + system time of its children that it has already reaped, so a
worker that exits is still counted, through its parent.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime + stime + cutime + cstime in ticks)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name sits in parentheses and may itself hold spaces
        fields = raw[raw.rindex(b")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])
        table[int(name)] = (int(fields[1]), ticks)
    return table


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from
    ``/proc/stat``: the time the hypervisor gave to other guests, and all
    of it."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def descendants() -> list[int]:
    """Live pids below this process."""
    return _tree(_stat_table(), os.getpid())[1:]


def _tree(table: dict[int, tuple[int, int]], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    order, todo = [], [root]
    while todo:
        pid = todo.pop()
        order.append(pid)
        todo.extend(kids.get(pid, ()))
    return order


def tree_cpu_seconds() -> float:
    """CPU-seconds used so far by this process and all of its descendants,
    reaped ones included."""
    table = _stat_table()
    ticks = sum(table[p][1] for p in _tree(table, os.getpid()) if p in table)
    return ticks / _TICK


def stop_descendants(timeout: float = 20.0) -> None:
    """SIGTERM every remaining descendant, then SIGKILL what outlives
    ``timeout``; waits until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants()
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while descendants() and time.monotonic() < deadline:
            _reap()
            time.sleep(0.1)
        if not descendants():
            break


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass
