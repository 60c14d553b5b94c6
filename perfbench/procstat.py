"""CPU time and resident memory of this process and all its descendants
(the driver Python process, the Spark JVM it launches, and the Python
workers the JVM forks), read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    """[command name, stat fields 3...] of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process exited while we listed /proc
        return None
    # the command name (field 2) may contain spaces; it ends at the last ')'
    end = data.rindex(")")
    return [data[data.index("(") + 1:end]] + data[end + 2:].split()


def _tree() -> dict[str, list[str]]:
    """{pid: [command name, stat fields 3...]} for this process tree."""
    fields, children = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None:
                fields[pid] = f
                children.setdefault(f[2], []).append(pid)  # f[2] = ppid
    out, todo = {}, [str(os.getpid())]
    while todo:
        pid = todo.pop()
        if pid in fields:
            out[pid] = fields[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """utime + stime + cutime + cstime summed over the tree, in seconds.
    Children reaped inside the tree are counted by their parent's c*time."""
    # utime, stime, cutime, cstime are stat fields 14-17
    return sum(sum(int(x) for x in f[12:16]) for f in _tree().values()) / _TICK


def _exe(pid: str) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_mb() -> dict[str, float]:
    """Resident MB of the tree, summed per command name (rss: field 24).
    A child caught between fork and exec (same binary as its parent, but
    named after the forking thread) reports its parent's pages as its own
    and is skipped: the JVM forks short-lived helpers during file writes."""
    tree = _tree()
    out: dict[str, float] = {}
    for pid, f in tree.items():
        parent = tree.get(f[2])
        if parent is not None and f[0] != parent[0] and _exe(pid) == _exe(f[2]):
            continue
        out[f[0]] = out.get(f[0], 0.0) + int(f[22]) * _PAGE / 1e6
    return out


class PeakRss:
    """Samples the tree's summed RSS on a background thread; ``stop``
    joins the thread and returns the peak in MB. ``parts`` is the per
    command split of the peak sample."""

    def __init__(self, interval_s: float = 0.5):
        self.peak_mb = 0.0
        self.parts: dict[str, float] = {}
        self._interval = interval_s
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        parts = tree_rss_mb()
        total = sum(parts.values())
        if total > self.peak_mb:
            self.peak_mb, self.parts = total, parts

    def _run(self) -> None:
        while True:
            self._sample()
            if self._done.wait(self._interval):
                return

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak_mb
