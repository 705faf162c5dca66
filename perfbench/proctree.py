"""Memory and CPU of this process and its descendants (the JVM, its Python
workers), read from /proc."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    return stat[stat.rindex(")") + 2:].split()  # fields from the 3rd (state) on


def descendants(root: int) -> list[int]:
    """root and every process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat_fields(int(d))[1]), []).append(int(d))
            except (OSError, IndexError):
                continue  # exited while listing
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: pages shared between the forked Python
    workers count once, unlike summed RSS."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU time of the live processes in pids."""
    total = 0
    for p in pids:
        try:
            f = _stat_fields(p)
        except OSError:
            continue
        total += int(f[11]) + int(f[12])  # utime, stime
    return total / _TICK


class MemorySampler:
    """Peak summed PSS of this process tree, sampled once a second while the
    `with` block runs (reading smaps of a JVM costs CPU that the CPU metric
    would count, so untimed-for-CPU passes only enable it)."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, name="perfbench-memory", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes(descendants(os.getpid())))
            self._stop.wait(1.0)

    def __enter__(self) -> MemorySampler:
        if self.enabled:
            self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self.enabled:
            self._t.join(timeout=5)


def _gone(pid: int) -> bool:
    """True once pid has exited. An orphan that exited stays a zombie until
    PID 1 reaps it, which in a container may never happen."""
    try:
        return _stat_fields(pid)[0] == "Z"
    except OSError:
        return True


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of `pids` exists any more (reaping our own children);
    SIGKILL the ones still alive after `timeout` seconds."""
    t_end = time.monotonic() + timeout
    while True:
        live = []
        for p in pids:
            try:
                if os.waitpid(p, os.WNOHANG) != (0, 0):
                    continue  # our child, now reaped
            except ChildProcessError:  # not our child: look it up
                if _gone(p):
                    continue
            live.append(p)
        if not live:
            return
        if time.monotonic() >= t_end:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            t_end = time.monotonic() + 5
        time.sleep(0.1)
