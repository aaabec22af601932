"""CPU time and resident memory of a process tree, read from /proc.

The benchmarked program is one Python driver, the JVM it launches and the
Python workers the JVM forks; all of them descend from the driver, so
walking the descendants of one pid covers the whole program.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name may hold spaces and parentheses; fields follow the
    # last ')'. Index 0 below is field 3 (state) of proc(5).
    return raw[raw.rfind(")") + 2:].split()


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_pids(root: int, skip_jvm_forks: bool = False) -> list[int]:
    """`root` and every live descendant. With `skip_jvm_forks`, leave out
    children of a JVM that are still a copy of it: the JVM starts helper
    programs (chmod, the Python daemon) by fork + exec, and until the exec
    the child reports the whole JVM heap as its own resident memory."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        kids = children.get(pid, ())
        if skip_jvm_forks and kids:
            exe = _exe(pid)
            if exe and exe.endswith("/java"):
                kids = [k for k in kids if _exe(k) != exe]
        stack.extend(kids)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including children that
    have exited and been reaped by a member of the tree."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime = proc(5) fields 14-17
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICKS


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident MB of the tree: "total", "jvm" (java processes) and
    "python" (the driver and the Python workers)."""
    out = {"total": 0.0, "jvm": 0.0, "python": 0.0}
    for pid in tree_pids(root, skip_jvm_forks=True):
        try:
            with open(f"/proc/{pid}/statm") as f:
                mb = int(f.read().split()[1]) * _PAGE / 1e6
        except (OSError, IndexError, ValueError):
            continue
        exe = os.path.basename(_exe(pid) or "")
        out["total"] += mb
        if exe == "java":
            out["jvm"] += mb
        elif exe.startswith("python"):
            out["python"] += mb
    return out


class RssSampler:
    """Samples the tree's resident memory on a background thread; `peak()`
    returns the highest sample of each figure since the last `reset()`."""

    INTERVAL_S = 0.1

    def __init__(self, root: int):
        self.root = root
        self._peak: dict[str, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _sample(self) -> None:
        rss = tree_rss_mb(self.root)
        with self._lock:
            for k, v in rss.items():
                self._peak[k] = max(self._peak.get(k, 0.0), v)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self._sample()

    def reset(self) -> None:
        with self._lock:
            self._peak = {}
        self._sample()

    def peak(self) -> dict[str, float]:
        self._sample()
        with self._lock:
            return dict(self._peak)
