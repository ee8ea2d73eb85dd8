"""Peak resident memory of the JVM and its Python workers, from /proc.

``VmHWM`` in ``/proc/<pid>/status`` is a process's own peak resident
set. Python workers are descendants of the JVM (daemon → forked
workers) and can exit while the benchmark runs, so a background thread
re-reads the process tree every ``interval_s`` and keeps each pid's
highest value; the peaks are summed per side when sampling stops.

Only descendants running Python count: the JVM also forks short-lived
helpers (Hadoop's local file system shells out for permissions), and a
child caught between fork and exec reports the JVM's whole RSS.
"""

from __future__ import annotations

import os
import threading


def _read_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    return None


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except (FileNotFoundError, ProcessLookupError):
        return False


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # comm may contain spaces and parens: fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


class PeakSampler:
    """Samples VmHWM of ``jvm_pid`` and its descendants until ``stop()``."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self._peaks_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        workers = [p for p in descendants(self.jvm_pid) if _is_python(p)]
        for pid in [self.jvm_pid, *workers]:
            kb = _read_hwm_kb(pid)
            if kb is not None and kb > self._peaks_kb.get(pid, 0):
                self._peaks_kb[pid] = kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def jvm_mb(self) -> float:
        return self._peaks_kb.get(self.jvm_pid, 0) / 1024.0

    def python_mb(self) -> float:
        return sum(kb for pid, kb in self._peaks_kb.items() if pid != self.jvm_pid) / 1024.0
