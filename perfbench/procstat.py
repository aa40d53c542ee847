"""Process-tree peak memory, process clean-up and host diagnostics (Linux /proc)."""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass  # exited between listing and reading
    return 0


class PeakRss:
    """Summed peak RSS of the process tree over a ``with`` block: on entry
    each process's kernel high-water mark (``VmHWM``) is reset to its
    current RSS (``/proc/<pid>/clear_refs`` ← 5), on exit the marks are
    summed.  Nothing samples while the job runs, so the figure costs the
    job no CPU and misses no short peak.  A process started inside the
    block counts from its start; one that ended inside it is not counted."""

    def __enter__(self):
        for pid in tree_pids(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        return self

    def __exit__(self, *exc):
        self.peak_kb = sum(_status_kb(pid, "VmHWM:") for pid in tree_pids(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_diag(before: list[int]) -> dict:
    """nproc, 1-min loadavg and the steal share of CPU time since ``before``
    (diagnosis only; never used to adjust a metric)."""
    after = cpu_times()
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta) or 1
    steal = delta[7] if len(delta) > 7 else 0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "steal_frac": steal / total,
    }


def become_subreaper() -> bool:
    """Make this process adopt its orphaned descendants (Linux prctl), so
    ``stop_descendants`` also finds processes whose parent exited first,
    e.g. PySpark workers of a daemon that is gone."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _reap() -> None:
    """Collect every exited child (own or adopted) without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0, term_s: float = 5.0) -> list[int]:
    """Wait until no descendant of this process is left: give them
    ``grace_s`` to exit on their own, then SIGTERM, then after ``term_s``
    SIGKILL; reap each.  → pids that had to be signalled."""
    me = os.getpid()
    signalled: list[int] = []
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        _reap()
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return signalled
        if time.monotonic() >= deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            signalled += [p for p in left if p not in signalled]
            deadline = time.monotonic() + term_s
        time.sleep(0.05)
